# -*- coding: utf-8 -*-
"""Semantic tests for dedup / similarity / textstats: planted duplicates
must be found; LSH must agree with brute force on this data; signatures are
deterministic."""

import pytest
from pyspark.sql import functions as F

from dss_plugin_google_cloud_vision_spark.operators.dedup import (
    exact_dedup_groups,
    exact_dedup_keep_first,
    minhash_candidate_pairs,
    near_dup_pairs,
    simhash_table,
)
from dss_plugin_google_cloud_vision_spark.operators.similarity import (
    brute_force_topk,
    lsh_bucketed_topk,
)
from dss_plugin_google_cloud_vision_spark.operators.textstats import (
    langid_detected_expr,
    langid_hit_columns,
    quality_columns,
)


def _corpus(spark):
    base = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (2, "a completely different document about gardens markets and stone windows"),
        (3, "music paper animals and rivers flow through the small market town"),
    ]
    rows = list(base)
    rows.append((101, base[0][1]))  # exact duplicate of 1
    rows.append((102, base[0][1] + " extra"))  # near duplicate of 1
    rows.append((103, "totally unrelated text with unique vocabulary zebra quartz")),
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_exact_dedup_finds_planted_duplicate(spark):
    df = _corpus(spark)
    groups = {r["doc_id"]: r["n_copies"] for r in exact_dedup_groups(df).collect()}
    assert groups == {1: 2}
    kept = {r["doc_id"] for r in exact_dedup_keep_first(df).collect()}
    assert 101 not in kept and 1 in kept and len(kept) == 5


def test_minhash_near_dup_finds_planted_pair(spark):
    df = _corpus(spark)
    candidates = {(r["doc_a"], r["doc_b"]) for r in minhash_candidate_pairs(df).collect()}
    assert (1, 101) in candidates  # exact dup always shares all bands
    verified = {(r["doc_a"], r["doc_b"]) for r in near_dup_pairs(df, threshold_milli=700).collect()}
    assert (1, 101) in verified
    assert (1, 102) in verified  # near dup passes jaccard at 0.7
    assert (1, 2) not in verified and (2, 3) not in verified


def test_simhash_identical_texts_equal(spark):
    df = _corpus(spark)
    sims = {r["doc_id"]: r["simhash"] for r in simhash_table(df).collect()}
    assert sims[1] == sims[101]
    assert -(2**63) <= sims[1] < 2**63  # 64-bit signed signature
    # different text, different vocabulary → different signature
    assert sims[1] != sims[103]


def test_lsh_topk_contains_brute_force_top1(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    query = [float(v) for v in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    brute = brute_force_topk(emb, query, k=5).collect()
    assert brute[0]["vec_id"] == 0 and brute[0]["cos_micro"] == 1_000_000
    lsh = {r["vec_id"] for r in lsh_bucketed_topk(emb, query, k=5).collect()}
    # the query vector itself always lands in its own bucket
    assert 0 in lsh


def test_quality_and_langid_basics(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog"), (2, ""), (3, "le chat et la fenêtre dans le jardin")],
        "doc_id int, text string",
    )
    quality_cols = [expr.alias(name) for name, expr in quality_columns().items()]
    quality = {r["doc_id"]: r for r in df.select("doc_id", *quality_cols).collect()}
    assert quality[1]["n_tokens"] == 5
    assert quality[1]["stopword_ratio_milli"] == 600  # the, and, the → 3/5
    detected = df.withColumns(langid_hit_columns()).select(
        "doc_id", langid_detected_expr().alias("lang_detected")
    )
    langs = {r["doc_id"]: r["lang_detected"] for r in detected.collect()}
    assert langs[1] == "en"
    assert langs[3] == "fr"
    assert langs[2] == ""


def _dedup_increment(spark, log, increment):
    """Cross-run exact dedup over the snapshot log: anti-join the
    increment's text fingerprints against the committed ``_fp`` column,
    keep-first (min id) within the increment, commit atomically."""
    from dss_plugin_google_cloud_vision_spark.sources.snapshots import run_with_snapshot_resume

    return run_with_snapshot_resume(
        spark,
        increment.withColumn("_fp", F.md5("text")),
        lambda todo: exact_dedup_keep_first(todo, "doc_id", "text"),
        log,
        key="_fp",
    )


def test_incremental_exact_dedup_across_runs(spark, tmp_path):
    from dss_plugin_google_cloud_vision_spark.sources.snapshots import SnapshotLog

    log = SnapshotLog(str(tmp_path / "corpus"))
    inc1 = spark.createDataFrame(
        [(1, "alpha text one"), (2, "beta text two"), (3, "alpha text one")],
        "doc_id int, text string",
    )
    # in-increment duplicate dropped, keeper = min id
    assert _dedup_increment(spark, log, inc1)["snapshot_rows"] == 2

    # increment 2: one cross-run duplicate, one new, one in-increment dup
    inc2 = spark.createDataFrame(
        [(10, "beta text two"), (11, "gamma text three"), (12, "gamma text three")],
        "doc_id int, text string",
    )
    assert _dedup_increment(spark, log, inc2)["snapshot_rows"] == 3
    kept = {r["doc_id"] for r in log.read(spark).collect()}
    assert kept == {1, 2, 11}

    # re-ingesting increment 2 is a no-op
    again = _dedup_increment(spark, log, inc2)
    assert again["snapshot_rows"] == again["snapshot_keys"] == 3
    assert log.read(spark).count() == 3


def test_incremental_exact_dedup_corrupt_corpus_raises(spark, tmp_path):
    """A committed data file that cannot be read must raise, never be
    skipped (that would drop fingerprints from the anti-join and re-admit
    duplicates), and the failed increment publishes no snapshot."""
    from dss_plugin_google_cloud_vision_spark.sources.snapshots import SnapshotLog

    log = SnapshotLog(str(tmp_path / "corpus"))
    _dedup_increment(
        spark, log, spark.createDataFrame([(1, "alpha")], "doc_id int, text string")
    )
    committed = sorted((tmp_path / "corpus" / "data").glob("*/part-*.parquet"))
    assert committed
    for part in committed:
        part.write_bytes(b"not a parquet footer")
    before = log.snapshot_ids()
    inc = spark.createDataFrame([(2, "beta")], "doc_id int, text string")
    with pytest.raises(Exception) as excinfo:
        _dedup_increment(spark, log, inc)
    # the failure surfaces the real read error, and nothing was published
    assert "parquet" in str(excinfo.value).lower() or "footer" in str(excinfo.value).lower()
    assert log.snapshot_ids() == before


def test_near_dup_clusters_chain(spark):
    """Transitive closure: a~b, b~c (no a~c pair) must land in ONE cluster;
    keep-one-per-cluster drops both non-representatives."""
    from dss_plugin_google_cloud_vision_spark.operators.dedup import (
        dedup_by_clusters,
        near_dup_clusters,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 20)],  # chain + pair + dup edge
        "doc_a int, doc_b int",
    )
    clusters = {r["doc_id"]: r["cluster_id"] for r in near_dup_clusters(pairs).collect()}
    assert clusters == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20}

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in (1, 2, 3, 10, 11, 20, 21, 99)], "doc_id int, text string"
    )
    kept = {r["doc_id"] for r in dedup_by_clusters(docs, pairs).collect()}
    assert kept == {1, 10, 20, 99}


def test_ivf_topk_recall(spark, sf_dir):
    """IVF probe search must return the query itself at rank 1 and agree
    with brute force on this near-orthogonal data (self cell is probed)."""
    from dss_plugin_google_cloud_vision_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    query = [float(v) for v in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    brute_top = brute_force_topk(emb, query, k=5).collect()
    ivf = ivf_topk(emb, query, k=5)
    rows = ivf.collect()
    assert rows[0]["vec_id"] == 0 and rows[0]["cos_micro"] == 1_000_000
    # plan must stay TakeOrderedAndProject (no global sort/window)
    plan = ivf._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    # recall vs brute force at k=1 is exact; report overlap at k=5
    ids = {r["vec_id"] for r in rows}
    assert brute_top[0]["vec_id"] in ids


def test_near_dup_clusters_raises_at_iteration_cap(spark):
    from dss_plugin_google_cloud_vision_spark.operators.dedup import near_dup_clusters

    chain = spark.createDataFrame([(i, i + 1) for i in range(1, 7)], "doc_a int, doc_b int")
    # diameter 6 > cap 2 → loud failure instead of silently wrong labels
    import pytest

    with pytest.raises(RuntimeError, match="did not converge"):
        near_dup_clusters(chain, max_iterations=2).collect()
    # default cap converges
    labels = {r["doc_id"]: r["cluster_id"] for r in near_dup_clusters(chain).collect()}
    assert set(labels.values()) == {1}


def test_embedding_near_dup_empty_input(spark):
    from dss_plugin_google_cloud_vision_spark.operators.dedup import embedding_near_dup_pairs

    empty = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    out = embedding_near_dup_pairs(empty)
    assert out.columns == ["vec_a", "vec_b", "cos_micro"]
    assert out.count() == 0


def test_near_dup_clusters_pointer_doubling_long_chain(spark):
    """Pointer doubling: a 60-node chain (diameter 59) converges within
    ~log2 rounds, far under a cap that plain neighbor propagation would
    blow through."""
    from dss_plugin_google_cloud_vision_spark.operators.dedup import near_dup_clusters

    chain = spark.createDataFrame([(i, i + 1) for i in range(1, 60)], "doc_a int, doc_b int")
    labels = {
        r["doc_id"]: r["cluster_id"]
        for r in near_dup_clusters(chain, max_iterations=10).collect()
    }
    assert set(labels.values()) == {1}
    assert len(labels) == 60


def test_embedding_near_dup_dim_inference_skips_null_first_row(spark):
    """dim inference must look at a NON-NULL vector: a null embedding in
    the arbitrary first row must not silently return an empty pair set."""
    from dss_plugin_google_cloud_vision_spark.operators.dedup import embedding_near_dup_pairs

    rows = [(0, None), (1, [1.0, 0.0, 0.0, 0.0]), (2, [2.0, 0.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>").coalesce(1)
    pairs = embedding_near_dup_pairs(df.filter("vec_id >= 0"))
    got = {(r["vec_a"], r["vec_b"]): r["cos_micro"] for r in pairs.collect()}
    assert got == {(1, 2): 1_000_000}


def test_hot_bucket_guard_bounds_planted_family(spark):
    """A planted 1000-document near-dup family (boilerplate-near-identical
    texts) must not go quadratic in the band self-join: the default
    hot-bucket cap drops its giant (band, key) buckets, the run completes
    with a bounded candidate count, and the drop is visible through
    oversized_band_buckets (no silent caps)."""
    from dss_plugin_google_cloud_vision_spark.operators.dedup import (
        DEFAULT_MAX_BAND_BUCKET,
        lsh_band_keys,
        minhash_candidate_pairs,
        minhash_signature,
        oversized_band_buckets,
        simhash_near_dup_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    family = [(i, base + f" v{i % 7}") for i in range(1000)]  # 7 variants x ~143 copies
    distinct = [(10000 + i, f"unique document number {i} with its own words {i * 17}") for i in range(50)]
    df = spark.createDataFrame(family + distinct, "doc_id bigint, text string").repartition(8)

    capped = minhash_candidate_pairs(df, max_bucket_size=64)
    n_capped = capped.count()
    # uncapped would be >= C(1000,2)/something huge; the guard bounds it
    assert n_capped < 64 * 64 * 4  # cap^2 per band upper bound
    # the drop is reportable: the family's buckets show up oversized
    band_rows = lsh_band_keys(minhash_signature(df))
    dropped = oversized_band_buckets(band_rows, ["band", "band_key"], 64)
    assert dropped.count() > 0
    assert dropped.agg({"bucket_n": "max"}).collect()[0][0] >= 100

    # simhash path: identical guard, completes with bounded candidates
    sim_capped = simhash_near_dup_pairs(df, max_bucket_size=64)
    assert sim_capped.count() < 64 * 64 * 4

    # guard must NOT fire on a no-duplicate corpus at the default cap
    clean = spark.createDataFrame(distinct, "doc_id bigint, text string")
    with_cap = minhash_candidate_pairs(clean, max_bucket_size=DEFAULT_MAX_BAND_BUCKET)
    without_cap = minhash_candidate_pairs(clean, max_bucket_size=None)
    assert sorted(map(tuple, with_cap.collect())) == sorted(map(tuple, without_cap.collect()))


def test_trained_ivf_improves_recall_on_clustered_data(spark):
    """On clustered data whose lowest-id vectors all sit in ONE cluster,
    the sampled codebook (train_iterations=0) wastes cells and loses
    recall; trained k-means centroids spread over the clusters and improve
    recall@10 vs brute force. Also pins determinism: two training runs
    produce the identical codebook."""
    import math

    from dss_plugin_google_cloud_vision_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        train_centroids,
    )

    # 8 well-separated cluster directions in 16 dims, 40 members each;
    # ids ordered so vec_id 0..39 is entirely cluster 0 (seeding trap)
    dim, n_clusters, per_cluster = 16, 8, 40
    rows = []
    for c in range(n_clusters):
        for m in range(per_cluster):
            base = [0.0] * dim
            base[2 * c] = 1.0
            base[2 * c + 1] = 0.35
            # deterministic perturbation large enough that the sampled
            # (lowest-id, all-cluster-0) codebook scatters cluster members
            # across cells
            for d in range(dim):
                base[d] += ((c * per_cluster + m) * (d + 3) % 17 - 8) / 40.0
            norm = math.sqrt(sum(x * x for x in base))
            rows.append((c * per_cluster + m, [x / norm for x in base]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>").repartition(4)

    # query: a member of the seed cluster itself — its neighbors scatter
    # across the near-identical sampled cells, so probe-2 misses several
    query = rows[6][1]
    brute_ids = [r["vec_id"] for r in brute_force_topk(df, query, k=10).collect()]

    def recall(train_iterations):
        got = {
            r["vec_id"]
            for r in ivf_topk(
                df, query, k=10, n_centroids=8, n_probe=2, train_iterations=train_iterations
            ).collect()
        }
        return len(got & set(brute_ids)) / 10.0

    sampled, trained = recall(0), recall(2)
    assert trained > sampled
    assert trained == 1.0

    # determinism: identical codebook across runs / partitionings
    c1 = train_centroids(df, n_centroids=8, n_iterations=2)
    c2 = train_centroids(df.repartition(11), n_centroids=8, n_iterations=2)
    assert c1 == c2


def test_paragraph_dedup_keeps_first_occurrence(spark):
    from dss_plugin_google_cloud_vision_spark.operators.dedup import paragraph_dedup

    boiler = "subscribe to the newsletter"
    rows = [
        (1, f"alpha beta gamma\n{boiler}\ndelta epsilon"),
        (2, f"{boiler}\nzeta eta theta"),
        (3, boiler),  # every paragraph loses -> doc disappears
        (4, "iota kappa\n\nlambda mu"),  # empty paragraph ignored
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in paragraph_dedup(df).collect()}
    assert out[1]["deduped_text"] == f"alpha beta gamma\n{boiler}\ndelta epsilon"
    assert out[1]["n_kept"] == 3 and out[1]["n_paragraphs"] == 3
    assert out[2]["deduped_text"] == "zeta eta theta"
    assert out[2]["n_kept"] == 1 and out[2]["n_paragraphs"] == 2
    assert 3 not in out
    assert out[4]["deduped_text"] == "iota kappa\nlambda mu"
    assert out[4]["n_paragraphs"] == 2

    # partitioning invariance: winner election must not depend on layout
    again = {r["doc_id"]: r["deduped_text"] for r in paragraph_dedup(df.repartition(7)).collect()}
    assert again == {k: v["deduped_text"] for k, v in out.items()}


def test_ngram_contamination_fractions(spark):
    from dss_plugin_google_cloud_vision_spark.operators.dedup import ngram_contamination

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # = benchmark doc
            (2, "completely disjoint text about stone gardens and markets here"),
            (3, "the quick brown fox sleeps near unrelated windy meadows"),  # partial
        ],
        "doc_id int, text string",
    )
    benchmark = corpus.filter(F.col("doc_id") == 1)
    out = {r["doc_id"]: r for r in ngram_contamination(corpus, benchmark).collect()}
    assert out[1]["contamination_milli"] == 1000
    assert out[2]["n_contaminated"] == 0 and out[2]["contamination_milli"] == 0
    # doc 3 shares exactly the shingles 'the quick brown' / 'quick brown fox'
    assert out[3]["n_contaminated"] == 2
    assert 0 < out[3]["contamination_milli"] < 1000


def test_contamination_plan_broadcasts_benchmark(spark):
    """The benchmark shingle side must broadcast (no shuffle of the corpus
    onto a join key) — the scale contract of the decontamination pass."""
    from dss_plugin_google_cloud_vision_spark.operators.dedup import ngram_contamination

    corpus = spark.createDataFrame(
        [(i, f"token{i} filler words all over the place number {i}") for i in range(50)],
        "doc_id int, text string",
    )
    plan = ngram_contamination(corpus, corpus.limit(3))._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    # per-doc shingle dedup is row-local (array_distinct): corpus shingle
    # text must never hash-exchange
    import re

    assert not re.search(r"hashpartitioning\([^)]*shingle", plan), plan


def test_incremental_near_dup_filter(spark):
    from dss_plugin_google_cloud_vision_spark.operators.dedup import (
        incremental_near_dup_filter,
        lsh_band_keys,
        minhash_signature,
    )

    corpus = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog near the river bank"),
            (20, "a completely different document about gardens markets and stone windows"),
        ],
        "doc_id int, text string",
    )
    increment = spark.createDataFrame(
        [
            # near-dup of corpus doc 10 -> dropped
            (101, "the quick brown fox jumps over the lazy dog near the river bank today"),
            # fresh -> kept
            (102, "music paper animals and rivers flow through the small market town"),
            # exact dup of 102 within the increment -> dropped (keep-first)
            (103, "music paper animals and rivers flow through the small market town"),
            # fresh unique -> kept
            (104, "totally unrelated text with unique vocabulary zebra quartz granite"),
        ],
        "doc_id int, text string",
    )
    kept = {r["doc_id"] for r in incremental_near_dup_filter(increment, corpus).collect()}
    assert kept == {102, 104}

    # the real incremental pattern: corpus bands persisted at ingest and
    # passed in — identical result, corpus text only read for matched docs
    bands = lsh_band_keys(minhash_signature(corpus))
    kept2 = {
        r["doc_id"]
        for r in incremental_near_dup_filter(increment, corpus, corpus_bands=bands).collect()
    }
    assert kept2 == kept


def test_incremental_near_dup_filter_union_increment(spark):
    """A union-shaped increment filters exactly like the same rows
    materialized first: a null id survives (even when its text near-dups
    the corpus, as under an anti-join), and rows sharing an id are kept or
    dropped together."""
    from collections import Counter

    from dss_plugin_google_cloud_vision_spark.operators.dedup import (
        incremental_near_dup_filter,
    )

    schema = "doc_id int, text string"
    corpus = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog near the river bank"),
            (20, "a completely different document about gardens markets and stone windows"),
        ],
        schema,
    )
    fresh = [
        (102, "music paper animals and rivers flow through the small market town"),
        (104, "totally unrelated text with unique vocabulary zebra quartz granite"),
        # a repeated id whose rows are both fresh: both kept
        (105, "copper lanterns glow above the harbor while fishermen mend nets"),
        (105, "seven violet kites drift over the meadow beside the old mill"),
        # a repeated id whose other row near-dups corpus doc 20: both dropped
        (106, "bright glass"),
        # a null id near-dupping corpus doc 10: kept
        (None, "the quick brown fox jumps over the lazy dog near the river bank again"),
    ]
    planted_corpus_dups = [
        (101, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (106, "a completely different document about gardens markets and stone windows too"),
    ]
    # an exact copy of increment doc 102 under a higher id: dropped
    planted_self_dups = [(103, fresh[0][1])]
    increment = (
        spark.createDataFrame(fresh, schema)
        .unionAll(spark.createDataFrame(planted_corpus_dups, schema))
        .unionAll(spark.createDataFrame(planted_self_dups, schema))
    )

    def rows(df):
        return Counter(tuple(r) for r in incremental_near_dup_filter(df, corpus).collect())

    expected = Counter(r for r in fresh if r[0] != 106)
    assert rows(increment) == expected
    assert rows(increment.localCheckpoint(eager=True)) == expected


def test_url_canonicalization_rules(spark):
    from dss_plugin_google_cloud_vision_spark.operators.urls import canonicalize_urls

    cases = [
        (1, "HTTPS://WWW.Example.COM:443/Path/Doc?utm_source=x&b=2&a=1#frag",
            "https://www.example.com/Path/Doc?a=1&b=2"),
        (2, "http://Host.org:80/", "http://host.org/"),
        (3, "https://host.org:8443/x", "https://host.org:8443/x"),  # non-default port kept
        (4, "http://a.b", "http://a.b/"),  # bare host gains the root path
        (5, "https://h/x?utm_a=1&gclid=2&ref=3&fbclid=4", "https://h/x"),  # all tracking
        (6, "https://h/x?Z=1&a=2", "https://h/x?Z=1&a=2"),  # bytewise sort: 'Z' < 'a'
    ]
    df = spark.createDataFrame([(i, u) for i, u, _ in cases], "doc_id int, url string")
    got = {r["doc_id"]: r["canonical_url"] for r in canonicalize_urls(df).collect()}
    for i, _u, want in cases:
        assert got[i] == want, (i, got[i], want)


def test_latest_per_url_election(spark):
    from dss_plugin_google_cloud_vision_spark.operators.urls import latest_per_url

    rows = [
        # three spellings of ONE canonical url; ids 11 and 12 tie on the
        # newest ts -> winner is id 12 (lexicographic struct max)
        (10, "https://h.org/a?b=2&a=1", 100),
        (11, "HTTPS://H.ORG:443/a?a=1&b=2&utm_x=1", 105),
        (12, "https://h.org/a?b=2&a=1#frag", 105),
        # a single-visit url
        (20, "http://solo.net/p", 50),
    ]
    df = spark.createDataFrame(rows, "doc_id int, url string, ts int")

    def run(frame):
        return {
            r["canonical_url"]: (r["n_visits"], r["kept_ts"], r["kept_id"])
            for r in latest_per_url(frame, ts_col="ts").collect()
        }

    got = run(df)
    assert got == {
        "https://h.org/a?a=1&b=2": (3, 105, 12),
        "http://solo.net/p": (1, 50, 20),
    }
    # partitioning-invariant (map-combined election, no window)
    assert run(df.repartition(8)) == got


def test_gopher_quality_rules(spark):
    from dss_plugin_google_cloud_vision_spark.operators.textstats import gopher_quality_table

    long_good = "the words flow and people have reasons to write with care " * 6  # 66 words
    df = spark.createDataFrame(
        [
            (1, long_good.strip()),
            (2, "short text only"),  # fails min_words
            (3, " ".join(["@@@"] * 60)),  # no alpha words, no stopwords
        ],
        "doc_id int, text string",
    )
    rows = {r["doc_id"]: r for r in gopher_quality_table(df).collect()}
    assert rows[1]["keep"] == 1 and rows[1]["n_words"] == 66
    assert rows[1]["stopword_distinct"] >= 4
    assert rows[2]["keep"] == 0
    assert rows[3]["keep"] == 0 and rows[3]["alpha_word_milli"] == 0


def test_within_doc_line_dedup_row_local(spark):
    from dss_plugin_google_cloud_vision_spark.operators.dedup import within_doc_line_dedup

    df = spark.createDataFrame(
        [
            (1, "boiler\nalpha\nboiler\nbeta\n\nalpha"),
            (2, "unique one\nunique two"),
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r["deduped_text"] for r in within_doc_line_dedup(df).collect()}
    assert out[1] == "boiler\nalpha\nbeta"
    assert out[2] == "unique one\nunique two"
    # zero shuffle: the plan must contain no Exchange
    plan = within_doc_line_dedup(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_paragraph_dedup_plan_uses_partial_min_not_window(spark):
    """Winner election must be a map-combined min aggregation (skew-robust),
    never a row_number window over the paragraph hash."""
    from dss_plugin_google_cloud_vision_spark.operators.dedup import paragraph_dedup

    df = spark.createDataFrame(
        [(i, f"para {i % 3}\ncommon line") for i in range(30)], "doc_id int, text string"
    )
    plan = paragraph_dedup(df)._jdf.queryExecution().executedPlan().toString()
    assert "partial_min" in plan, plan
    assert "Window" not in plan, plan


def test_duplicate_span_removal_semantics(spark):
    from dss_plugin_google_cloud_vision_spark.operators.dedup import duplicate_span_removal

    boiler = "one two three four five six seven eight nine ten"  # 10 tokens
    rows = [
        (1, f"alpha beta {boiler} gamma delta"),
        (2, f"epsilon zeta {boiler} eta theta"),  # later copy -> boiler removed
        (3, "iota kappa lambda mu nu xi omicron pi"),  # unique, untouched
        (4, boiler),  # whole doc duplicated -> fully removed
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in duplicate_span_removal(df, window_n=8).collect()}
    # winner (lowest (doc, pos)) keeps its copy verbatim
    assert out[1]["deduped_text"] == rows[0][1]
    assert out[1]["n_tokens_kept"] == out[1]["n_tokens"] == 14
    # doc 2 loses exactly the boilerplate tokens, keeps its own
    assert out[2]["deduped_text"] == "epsilon zeta eta theta"
    assert out[2]["n_tokens_kept"] == 4 and out[2]["n_tokens"] == 14
    assert out[3]["deduped_text"] == rows[2][1]
    assert 4 not in out  # every token removed -> document drops

    # window-hash election must never shuffle window text: the dup
    # groupBy carries only (hash, id, pos)
    plan = duplicate_span_removal(df, window_n=8)._jdf.queryExecution().executedPlan().toString()
    assert "partial_min" in plan


def test_duplicate_span_removal_short_docs(spark):
    """Docs with fewer than window_n tokens contribute no windows and pass
    through untouched (regression: sequence(1, n-(w-1)) is DESCENDING when
    n < w, so the unguarded transform evaluated slice(toks, 0, w) and the
    job aborted with INVALID_PARAMETER_VALUE.START)."""
    from dss_plugin_google_cloud_vision_spark.operators.dedup import duplicate_span_removal

    boiler = "one two three four five six seven eight nine ten"
    rows = [
        (1, "tiny doc"),  # 2 tokens < window
        (2, "a b c d e"),  # 5 tokens < window
        (3, f"x y {boiler}"),
        (4, f"p q {boiler}"),  # later copy -> boiler removed
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in duplicate_span_removal(df, window_n=8).collect()}
    assert out[1]["deduped_text"] == "tiny doc" and out[1]["n_tokens"] == 2
    assert out[2]["deduped_text"] == "a b c d e"
    assert out[3]["deduped_text"] == rows[2][1]
    assert out[4]["deduped_text"] == "p q"


def test_pack_sequences_two_phase_prefix_sum(spark):
    """Hand-computed packing + equality between two-phase groupings (the
    prefix sum must not depend on group_size) + no global single-partition
    window in the plan."""
    from dss_plugin_google_cloud_vision_spark.operators.packing import pack_sequences

    rows = [(i, " ".join(["w"] * n)) for i, n in [(0, 5), (1, 4), (2, 3), (3, 8), (4, 2)]]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in pack_sequences(df, budget_tokens=8, group_size=2).collect()}
    # stream: doc0 [0,5) doc1 [5,9) doc2 [9,12) doc3 [12,20) doc4 [20,22)
    assert (out[0]["seq_id"], out[0]["offset_in_seq"], out[0]["spans_boundary"]) == (0, 0, 0)
    assert (out[1]["seq_id"], out[1]["offset_in_seq"], out[1]["spans_boundary"]) == (0, 5, 1)
    assert (out[2]["seq_id"], out[2]["offset_in_seq"], out[2]["spans_boundary"]) == (1, 1, 0)
    assert (out[3]["seq_id"], out[3]["offset_in_seq"], out[3]["spans_boundary"]) == (1, 4, 1)
    assert (out[4]["seq_id"], out[4]["offset_in_seq"], out[4]["spans_boundary"]) == (2, 4, 0)

    for gs in (1, 3, 1000):
        again = {
            r["doc_id"]: (r["seq_id"], r["offset_in_seq"])
            for r in pack_sequences(df, budget_tokens=8, group_size=gs).collect()
        }
        assert again == {k: (v["seq_id"], v["offset_in_seq"]) for k, v in out.items()}


def test_chunk_documents_windows(spark):
    from dss_plugin_google_cloud_vision_spark.operators.packing import chunk_documents

    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))), (2, "a b")],
        "doc_id int, text string",
    )
    out = [
        (r["doc_id"], r["chunk_id"], r["token_start"], r["chunk_text"], r["n_chunk_tokens"])
        for r in chunk_documents(df, chunk_tokens=4, stride_tokens=3)
        .orderBy("doc_id", "chunk_id")
        .collect()
    ]
    assert out == [
        (1, 0, 0, "t0 t1 t2 t3", 4),
        (1, 1, 3, "t3 t4 t5 t6", 4),
        (1, 2, 6, "t6 t7 t8 t9", 4),
        (2, 0, 0, "a b", 2),  # shorter than one chunk -> whole doc
    ]
    # row-local: no Exchange in the plan
    plan = chunk_documents(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_gopher_multilingual_language_awareness(spark):
    from dss_plugin_google_cloud_vision_spark.operators.textstats import (
        gopher_quality_multilingual_table,
    )

    fr = ("le chat et la maison dans le jardin pour que une belle " * 6).strip()  # 66 words
    zh = (" ".join(["汉字词语" for _ in range(60)]))
    df = spark.createDataFrame(
        [(1, fr, "fr"), (2, zh, "zh"), (3, fr, "en")],
        "doc_id int, text string, lang string",
    )
    rows = {r["doc_id"]: r for r in gopher_quality_multilingual_table(df).collect()}
    # French doc passes via its OWN profile
    assert rows[1]["keep"] == 1 and rows[1]["stopword_distinct"] >= 2
    # zh: no profile -> exempt from the stopword rule, letters count via \p{L}
    assert rows[2]["stopword_distinct"] == -1
    assert rows[2]["letter_word_milli"] == 1000 and rows[2]["keep"] == 1
    # the same French text labelled en FAILS: no English stopwords in it
    assert rows[3]["stopword_distinct"] < 2 and rows[3]["keep"] == 0


def test_bigram_predictability_semantics(spark):
    from dss_plugin_google_cloud_vision_spark.operators.textstats import (
        bigram_predictability_table,
    )

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),  # 'a b' 3x, 'b a' 2x; a appears 3x, b 3x
            (2, "a b"),
            (3, "x"),  # single token -> no bigrams -> dropped
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in bigram_predictability_table(df).collect()}
    # corpus: count(a)=4, count(b)=4, count('a b')=4, count('b a')=2
    # doc1 pred: ab->1000, ba->500, ab->1000, ba->500, ab->1000 (5 bigrams)
    assert out[1]["n_bigrams"] == 5
    assert out[1]["mean_pred_milli"] == 800 and out[1]["min_pred_milli"] == 500
    assert out[2]["n_bigrams"] == 1 and out[2]["mean_pred_milli"] == 1000
    assert 3 not in out


def test_trigram_predictability_semantics(spark):
    """Hand-computed interpolated trigram scores (w = 500/300/200 milli):
    corpus u(a)=u(b)=u(c)=3, total=11, ab=3, bc=3, ca=1, abc=3, bca=1,
    cab=1."""
    from dss_plugin_google_cloud_vision_spark.operators.textstats import (
        trigram_predictability_table,
    )

    df = spark.createDataFrame(
        [(1, "a b c a b c"), (2, "a b c"), (3, "x y")],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in trigram_predictability_table(df).collect()}
    # abc: floor((500*1000 + 300*1000 + 200*floor(3000/11))/1000) = 854
    # bca: floor((500*333 + 300*333 + 200*272)/1000) = 320
    # cab: same as abc by symmetry = 854
    assert out[1]["n_trigrams"] == 4
    assert out[1]["mean_interp_milli"] == 720  # floor((854+320+854+854)/4)
    assert out[1]["min_interp_milli"] == 320
    assert out[2]["n_trigrams"] == 1 and out[2]["mean_interp_milli"] == 854
    assert 3 not in out  # fewer than three tokens -> dropped


def test_skew_safe_score_join_matches_plain_join(spark):
    """The broadcast-head/shuffled-tail split must return EXACTLY the rows
    of a plain join, for any head size — including head sizes that split a
    planted hot key from the tail."""
    from dss_plugin_google_cloud_vision_spark.operators.textstats import (
        skew_safe_score_join,
    )

    weighted = spark.createDataFrame(
        [(d, t, 1) for d in range(20) for t in (["the"] * 5 + ["rare%d" % d])],
        "doc_id int, tok string, n int",
    ).groupBy("doc_id", "tok").agg(F.sum("n").alias("n"))
    score = weighted.groupBy("tok").agg(F.sum("n").alias("freq"))
    plain = weighted.join(score, "tok").select("doc_id", "tok", "n", "freq")
    for k in (1, 3, 10_000):
        split = skew_safe_score_join(weighted, score, ["tok"], "freq", top_k=k).select(
            "doc_id", "tok", "n", "freq"
        )
        assert sorted(map(tuple, split.collect())) == sorted(map(tuple, plain.collect()))


def test_deterministic_sampling_properties(spark):
    """Nested-sample property (same seed, higher rate -> superset),
    determinism across runs, independence across seeds, and exact 0/1000
    edge rates."""
    from dss_plugin_google_cloud_vision_spark.operators.sampling import (
        deterministic_sample,
    )

    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id int")
    s_low = {r["doc_id"] for r in deterministic_sample(df, 200).collect()}
    s_high = {r["doc_id"] for r in deterministic_sample(df, 600).collect()}
    assert s_low <= s_high  # nested: raising the rate only ADDS rows
    assert s_low == {r["doc_id"] for r in deterministic_sample(df, 200).collect()}
    # rates are approximately honored (md5 is uniform)
    assert 0.15 < len(s_low) / 2000 < 0.25
    assert 0.55 < len(s_high) / 2000 < 0.65
    other_seed = {r["doc_id"] for r in deterministic_sample(df, 200, seed=7).collect()}
    assert other_seed != s_low  # different seed -> different sample
    assert deterministic_sample(df, 0).count() == 0
    assert deterministic_sample(df, 1000).count() == 2000


def test_cap_per_group_quota(spark):
    from dss_plugin_google_cloud_vision_spark.operators.sampling import cap_per_group

    df = spark.createDataFrame(
        [(i, f"host{i % 3}") for i in range(100)], "doc_id int, source string"
    )
    out = cap_per_group(df, "source", cap=10)
    counts = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts == {"host0": 10, "host1": 10, "host2": 10}
    # deterministic winner set, not a crawl-order prefix
    kept_twice = sorted(r["doc_id"] for r in cap_per_group(df, "source", cap=10).collect())
    assert kept_twice == sorted(r["doc_id"] for r in out.collect())
    assert kept_twice != list(range(30))
    # groups under the cap pass through whole
    assert cap_per_group(df, "source", cap=50).count() == 100


def test_remove_frequent_lines_boilerplate(spark):
    """A line in >= min_doc_count distinct docs is removed EVERYWHERE
    (first occurrence too — the contrast with paragraph_dedup); rare
    repeated lines survive; all-boilerplate docs drop out."""
    from dss_plugin_google_cloud_vision_spark.operators.dedup import remove_frequent_lines

    boiler = "subscribe to our newsletter"
    rows = [(i, f"unique line {i}\n{boiler}") for i in range(10)]
    rows.append((100, f"rare repeated\nunique line 100x"))
    rows.append((101, f"rare repeated\nunique line 101x"))
    rows.append((102, boiler))  # only boilerplate -> drops out
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in remove_frequent_lines(df, min_doc_count=5).collect()}
    for i in range(10):
        assert out[i]["cleaned_text"] == f"unique line {i}"  # boiler gone, incl. first
        assert out[i]["n_kept"] == 1 and out[i]["n_lines"] == 2
    # 'rare repeated' appears in only 2 docs < threshold -> kept
    assert out[100]["cleaned_text"].startswith("rare repeated")
    assert 102 not in out


def test_shard_corpus_properties(spark):
    """Deterministic, uniform-ish, reshard-stable: order keys do not
    depend on n_shards, every doc gets exactly one shard in range."""
    from dss_plugin_google_cloud_vision_spark.operators.packing import shard_corpus

    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id int")
    a = shard_corpus(df, n_shards=8).collect()
    b = shard_corpus(df, n_shards=8).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # reproducible
    assert all(0 <= r["shard"] < 8 for r in a)
    counts = {}
    for r in a:
        counts[r["shard"]] = counts.get(r["shard"], 0) + 1
    assert max(counts.values()) < 3 * min(counts.values())  # roughly uniform
    # resharding keeps order keys (only shard ids change)
    keys8 = {r["doc_id"]: r["order_key"] for r in a}
    keys16 = {r["doc_id"]: r["order_key"] for r in shard_corpus(df, n_shards=16).collect()}
    assert keys8 == keys16
    # hash order is not crawl order
    in_shard0 = [r["doc_id"] for r in sorted(a, key=lambda r: (r["shard"], r["order_key"]))]
    assert in_shard0 != sorted(in_shard0)


def test_grouped_exact_quantiles_vs_sorted_truth(spark):
    """Histogram-based quantiles must equal the brute-force sorted-list
    answer (quantile_disc: smallest v with cum >= ceil(p*n/100))."""
    import math

    from dss_plugin_google_cloud_vision_spark.operators.textstats import (
        grouped_exact_quantiles,
    )

    rows = [("a", v) for v in [1, 2, 2, 3, 10, 10, 10, 50]] + [("b", v) for v in [7]] + [
        ("c", v) for v in range(100)
    ]
    df = spark.createDataFrame(rows, "lang string, n_chars int")
    out = {r["lang"]: r for r in grouped_exact_quantiles(df, "lang", "n_chars", (50, 90)).collect()}
    for lang in ("a", "b", "c"):
        values = sorted(v for g, v in rows if g == lang)
        n = len(values)
        for p in (50, 90):
            expected = values[math.ceil(p * n / 100) - 1]
            assert out[lang][f"p{p}"] == expected, (lang, p, out[lang])
        assert out[lang]["n_rows"] == n


def test_duplicate_span_removal_randomized_vs_brute_force(spark):
    """Randomized cross-check of the relational span dedup against a
    direct Python implementation of the rule (every window_n-token window
    occurring more than once keeps only its lowest-(id,pos) occurrence;
    other occurrences' tokens are removed). Ten independent corpora with
    tiny alphabets (dense window collisions), doc lengths straddling the
    window size, run as ONE Spark job via per-corpus disjoint vocabularies."""
    import random

    from dss_plugin_google_cloud_vision_spark.operators.dedup import duplicate_span_removal

    w = 3
    rng = random.Random(20240817)
    rows = []
    for corpus in range(10):
        vocab = [f"c{corpus}t{k}" for k in range(3)]
        for d in range(rng.randint(2, 5)):
            doc_id = corpus * 100 + d
            n = rng.randint(0, 10)
            rows.append((doc_id, " ".join(rng.choice(vocab) for _ in range(n))))

    def brute_force(rows):
        toks = {i: t.split(" ") for i, t in rows}
        occurrences = {}
        for i, ts in sorted(toks.items()):
            for p in range(len(ts) - w + 1):
                occurrences.setdefault(tuple(ts[p : p + w]), []).append((i, p))
        covered = {i: set() for i in toks}
        for occ in occurrences.values():
            if len(occ) > 1:
                for i, p in occ[1:] if occ == sorted(occ) else sorted(occ)[1:]:
                    covered[i].update(range(p, p + w))
        out = {}
        for i, ts in toks.items():
            kept = [t for p, t in enumerate(ts) if p not in covered[i]]
            if kept:
                out[i] = (" ".join(kept), len(kept), len(ts))
        return out

    expected = brute_force(rows)
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: (r["deduped_text"], r["n_tokens_kept"], r["n_tokens"])
        for r in duplicate_span_removal(df, window_n=w).collect()
    }
    assert got == expected


def test_duplicate_ngram_stats_semantics(spark):
    from dss_plugin_google_cloud_vision_spark.operators.textstats import (
        duplicate_ngram_stats,
    )

    rows = [
        (1, "a b c d e f g"),            # 3 distinct 5-grams, no repeats
        (2, "x y x y x y x y x y x y"),  # period-2 loop: heavy repeats
        (3, "one two three"),            # shorter than n -> zero grams
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in duplicate_ngram_stats(df, n=5).collect()}
    assert out[1]["n_grams"] == 3 and out[1]["dup_milli"] == 0
    # doc2: 8 grams, only 2 distinct ("x y x y x" / "y x y x y")
    assert out[2]["n_grams"] == 8 and out[2]["n_distinct"] == 2
    assert out[2]["dup_milli"] == 750  # floor(6*1000/8)
    assert out[3]["n_grams"] == 0 and out[3]["dup_milli"] == 0


def test_chunk_documents_randomized_coverage_property(spark):
    """For random doc lengths and (chunk, stride) combos with stride <=
    chunk: every token position is covered by at least one chunk, chunk
    token counts are consistent with their slice, and re-joining stride==
    chunk (disjoint) chunks reconstructs the document exactly."""
    import random

    from dss_plugin_google_cloud_vision_spark.operators.packing import chunk_documents

    rng = random.Random(7)
    rows = [(i, " ".join(f"t{i}_{j}" for j in range(rng.randint(1, 37)))) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    for chunk, stride in ((8, 5), (8, 8), (16, 7)):
        out = {}
        for r in chunk_documents(df, chunk_tokens=chunk, stride_tokens=stride).collect():
            out.setdefault(r["doc_id"], []).append(r)
        for i, text in rows:
            n = len(text.split(" "))
            chunks = sorted(out[i], key=lambda r: r["chunk_id"])
            covered = set()
            for r in chunks:
                start = r["token_start"]
                assert r["chunk_text"] == " ".join(text.split(" ")[start : start + chunk])
                assert r["n_chunk_tokens"] == min(chunk, n - start)
                covered.update(range(start, start + r["n_chunk_tokens"]))
            assert covered == set(range(n)), (i, chunk, stride)
            if stride == chunk:  # disjoint chunks reconstruct the doc
                assert " ".join(r["chunk_text"] for r in chunks) == text


def test_pack_sequences_randomized_invariants(spark):
    """Random corpora vs a direct prefix-sum reference: stream packing
    must place every doc at its exact cumulative offset (seq_id, offset,
    boundary flag), invariant to the two-phase group size."""
    import random

    from dss_plugin_google_cloud_vision_spark.operators.packing import pack_sequences

    rng = random.Random(11)
    budget = 16
    rows = [(i, " ".join("w" for _ in range(rng.randint(1, 24)))) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id int, text string")

    start, expected = 0, {}
    for i, text in sorted(rows):
        n = len(text.split(" "))
        end = start + n - 1
        expected[i] = (n, start // budget, start % budget, int(end // budget > start // budget))
        start += n

    base = {
        r["doc_id"]: (r["n_tokens"], r["seq_id"], r["offset_in_seq"], r["spans_boundary"])
        for r in pack_sequences(df, budget_tokens=budget, group_size=4).collect()
    }
    assert base == expected
    for gs in (1, 7, 50):
        again = {
            r["doc_id"]: (r["n_tokens"], r["seq_id"], r["offset_in_seq"], r["spans_boundary"])
            for r in pack_sequences(df, budget_tokens=budget, group_size=gs).collect()
        }
        assert again == expected


def test_pq_ann_recall_and_determinism(spark, sf_dir):
    """PQ (train -> encode -> ADC search + exact refine) must return the
    query itself at rank 1, overlap substantially with brute-force top-5,
    and be bit-deterministic across runs; codes are small ints in range."""
    from dss_plugin_google_cloud_vision_spark.operators.similarity import (
        brute_force_topk,
        encode_pq,
        pq_topk,
        train_pq_codebooks,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    n_sub = 4 if dim % 4 == 0 else 2
    query = [float(v) for v in emb.filter(F.col("vec_id") == 0).first()["embedding"]]

    books = train_pq_codebooks(emb, n_subspaces=n_sub, n_codes=8, train_iterations=2)
    assert len(books) == n_sub and all(len(b) == 8 for b in books)
    books2 = train_pq_codebooks(emb, n_subspaces=n_sub, n_codes=8, train_iterations=2)
    assert books == books2  # deterministic training

    encoded = encode_pq(emb, books)
    sample = encoded.select("pq_codes").limit(20).collect()
    assert all(0 <= c < 8 for r in sample for c in r["pq_codes"])

    got = pq_topk(encoded, books, query, k=5, refine=8).collect()
    assert got[0]["vec_id"] == 0 and got[0]["cos_micro"] == 1_000_000
    brute = {r["vec_id"] for r in brute_force_topk(emb, query, k=5).collect()}
    overlap = len(brute & {r["vec_id"] for r in got})
    assert overlap >= 2, (overlap, got)


def test_pq_search_tolerates_null_embeddings(spark, sf_dir):
    """Rows with NULL embeddings carry NULL PQ codes (ivf_cell_udf emits
    SQL NULLs for absent vectors); the ADC scorer must skip them, not
    abort the job — same tolerance as the IVF search path."""
    from dss_plugin_google_cloud_vision_spark.operators.similarity import (
        encode_pq,
        pq_topk,
        train_pq_codebooks,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    n_sub = 4 if dim % 4 == 0 else 2
    query = [float(v) for v in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    books = train_pq_codebooks(emb, n_subspaces=n_sub, n_codes=8, train_iterations=1)

    with_null = emb.select("vec_id", "embedding").unionByName(
        spark.createDataFrame([(999999, None)], "vec_id bigint, embedding array<float>")
    )
    got = pq_topk(encode_pq(with_null, books), books, query, k=5, refine=8).collect()
    assert got[0]["vec_id"] == 0
    assert all(r["vec_id"] != 999999 for r in got)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="empty corpus"):
        train_pq_codebooks(emb.filter(F.lit(False)), n_subspaces=n_sub)


def test_pq_training_jobs_do_not_grow_with_subspaces(spark, sf_dir, jobs_launched):
    """Every subspace trains in the same seed collect and Lloyd-step jobs,
    so 4 subspaces launch exactly as many jobs as 2."""
    from dss_plugin_google_cloud_vision_spark.operators.similarity import (
        train_pq_codebooks,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def jobs(n_sub):
        before = jobs_launched()
        books = train_pq_codebooks(emb, n_subspaces=n_sub, n_codes=8, train_iterations=2)
        assert len(books) == n_sub
        return jobs_launched() - before

    assert jobs(4) == jobs(2)


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup-style cluster-blocked cosine marking)
# ---------------------------------------------------------------------------


def test_semantic_dedup_cluster_blocking_and_keep_rule(spark):
    """Pre-trained centroids path: flags exactly the rows with a LOWER-id
    same-cluster neighbor inside the paraphrase radius; a high-cosine pair
    split ACROSS clusters is never compared (blocking semantics, the
    SemDeDup trade); null embeddings get a NULL cluster and False."""
    from dss_plugin_google_cloud_vision_spark.operators.dedup import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),   # cluster 0 anchor
        (1, [0.9, 0.1, 0.0, 0.0]),   # cos(0,1) ~ 0.9939 -> dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),   # cluster 1 anchor
        (3, [0.0, 0.95, 0.05, 0.0]), # cos(2,3) ~ 0.9986 -> dup of 2
        (4, [0.5, 0.0, 0.5, 0.0]),   # cluster 0, cos(0,4) ~ 0.707 -> kept
        (5, None),                   # null embedding -> NULL cluster, False
        (6, [0.6, 0.5, 0.0, 0.0]),   # cluster 0 } cos(6,7) ~ 0.9836 but
        (7, [0.5, 0.6, 0.0, 0.0]),   # cluster 1 } different cells: kept
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>").repartition(3)
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    got = {
        r["vec_id"]: (r["cluster"], r["is_semantic_dup"])
        for r in semantic_dedup(df, centroids=cents).collect()
    }
    assert got == {
        0: (0, False),
        1: (0, True),
        2: (1, False),
        3: (1, True),
        4: (0, False),
        5: (None, False),
        6: (0, False),
        7: (1, False),
    }


def test_semantic_dedup_trained_is_deterministic(spark, sf_dir):
    """Trained path (lowest-id-seeded Lloyd): two runs over the same input
    produce identical flags — no sampling, no RNG anywhere."""
    from dss_plugin_google_cloud_vision_spark.operators.dedup import semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    runs = [
        sorted(
            (r["vec_id"], r["cluster"], r["is_semantic_dup"])
            for r in semantic_dedup(emb, n_clusters=4, n_iterations=2).collect()
        )
        for _ in range(2)
    ]
    assert runs[0] == runs[1]
    assert len(runs[0]) == emb.count()


def test_cluster_max_lower_dots_matches_reference_fold(spark):
    """The grouped pair kernel (semantic_dedup's r6 pair stage) must equal
    a brute-force per-pair LEFT-FOLD reference bit-for-bit: max over
    lower-id cluster-mates, one row per member with a lower partner,
    singleton clusters silent. pair_block=7 forces multi-block paths on
    every cluster, so the block boundary arithmetic is load-bearing."""
    import random

    from dss_plugin_google_cloud_vision_spark.operators.similarity import (
        cluster_max_lower_dots,
    )

    rng = random.Random(20260822)
    dim = 8
    rows = []
    # cluster 0: 9 members (36 pairs -> several 7-pair blocks); cluster 1:
    # 2 members (single pair); cluster 2: singleton (no output row)
    for cid, members in ((0, 9), (1, 2), (2, 1)):
        for m in range(members):
            vec = [rng.uniform(-1.0, 1.0) for _ in range(dim)]
            rows.append((cid * 100 + m, cid, vec))

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def check(rows, id_type):
        df = spark.createDataFrame(rows, f"vec_id {id_type}, cluster int, _e array<double>")
        got = {
            r["vec_id"]: r["_max_dot"]
            for r in cluster_max_lower_dots(df, "vec_id", pair_block=7).collect()
        }
        by_cluster = {}
        for vid, cid, vec in rows:
            by_cluster.setdefault(cid, []).append((vid, vec))
        want = {}
        for members in by_cluster.values():
            members.sort()
            for j in range(1, len(members)):
                want[members[j][0]] = max(
                    fold_dot(members[i][1], members[j][1]) for i in range(j)
                )
        assert got == want  # bit-exact doubles, exact row set

    check(rows, "bigint")
    # string ids: the singleton cluster's empty result carries the string
    # id column, and "lower" is the string order
    check([(f"v{vid}", cid, vec) for vid, cid, vec in rows], "string")


def test_cluster_max_lower_dots_rejects_repeated_id(spark):
    """A repeated id inside one cluster would pair with itself as its own
    lower partner; the kernel names it instead."""
    from pyspark.errors import PythonException

    from dss_plugin_google_cloud_vision_spark.operators.similarity import (
        cluster_max_lower_dots,
    )

    rows = [(1, 0, [1.0, 0.0]), (2, 0, [0.0, 1.0]), (2, 0, [0.6, 0.8]), (2, 1, [1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id bigint, cluster int, _e array<double>")
    with pytest.raises(PythonException, match="vec_id 2 repeats within one cluster group"):
        cluster_max_lower_dots(df, "vec_id").collect()
