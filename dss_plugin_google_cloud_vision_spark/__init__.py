"""spark-webtext-extract — a PySpark-native main-content extraction engine.

A from-scratch re-expression of the data-processing capabilities of the
``dataiku/dss-plugin-google-cloud-vision`` plugin (reference, read-only at
/root/reference) as distributed Spark dataflow over Common-Crawl-style page
tables ``(url string, warc_ts timestamp, html binary, text string, lang
string)``.

Where the reference iterates a pandas table of file paths and calls the
Google Cloud Vision API per row/batch on driver threads
(reference: python-lib/parallelizer.py:160-250), this engine runs local,
batched, vectorized extraction inside ``mapInArrow`` stages:

- ``operators.extract`` — the guarded row/batch map engine (the
  ``parallelizer`` equivalent) with the exact response/error column
  contract, unique column naming and column-ordering rules.
- ``functions.html_extract`` — deterministic DOM-based main-content
  extraction (text-density / link-density boilerplate scoring).
- ``functions.pdf_extract`` / ``functions.tiff_extract`` — deterministic
  multi-page payload parsing (three-way magic-byte routing: pdf / tiff /
  html, the reference's suffix routing).
- ``operators.formatters`` — the five response-formatter projections as
  Spark column-expression builders (content lists take the reference's
  intended filter+sort, not its precedence bug).
- ``operators.artifacts`` — S6 span-overlay artifact column + executor-side
  blob sink.
- ``sources.snapshots`` — checkpoint-resume: an Iceberg-analogue
  snapshot log (atomic manifests, time travel), the resume anti-join and
  per-partition lineage metrics.
- ``operators.dedup`` / ``operators.similarity`` / ``operators.textstats``
  / ``operators.sessions`` — large-scale training-data pipeline operators
  (dedup incl. LSH blocking + connected-component collapse, ANN
  brute/LSH/IVF, text QA, sessionization).
- ``plans.curation`` — the end-to-end corpus-curation composition.
- ``config`` — F8 job-parameter validation with the reference's ranges.

Nothing here imports from the reference; all semantics are re-derived from
its observable behavior and re-implemented Spark-first.
"""

__version__ = "0.1.0"
