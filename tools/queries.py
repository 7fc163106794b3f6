#!/usr/bin/env python
# -*- coding: utf-8 -*-
"""Per-entry tool for ``__spark_entry__.queries()``.

  gate --touching dedup.minhash_slots[,module.name...]
      entries whose builder or oracle SQL reaches a named top-level
      definition, in queries() order, as one line for check_oracle.py
      --only. Static (ast): no Spark, no package import. Unknown names exit 2.
  time NAMES [--repeats N] [--sf-dir DIR]
      noop-sink samples after one warm-up, then one JSON line.
  plan NAMES [--out DIR] [--sf-dir DIR]
      one normalized formatted plan per entry, outside the repo: a diff of
      two runs shows only real plan changes.
"""

from __future__ import annotations

import argparse
import ast
import glob
import json
import os
import re
import sys
import tempfile
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENTRY = "__spark_entry__"
_SCOPES = (ast.FunctionDef, ast.Lambda, ast.ListComp, ast.SetComp, ast.DictComp, ast.GeneratorExp)


def _binds(scope) -> set:
    """Names a function, lambda or comprehension binds (imports excluded)."""
    args = getattr(scope, "args", None)
    names = {a.arg for a in ast.walk(args) if isinstance(a, ast.arg)} if args else set()
    stack = [c for c in ast.iter_child_nodes(scope) if c is not args]
    while stack:
        node = stack.pop()
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Load):
            names.add(node.id)
        elif isinstance(node, (ast.FunctionDef, ast.ClassDef, ast.ExceptHandler)):
            names.add(node.name)
        if not isinstance(node, _SCOPES + (ast.ClassDef,)):
            stack.extend(ast.iter_child_nodes(node))
    return names


def _refs(node) -> set:
    """Names ``node`` reaches: unbound loads, attribute and imported names."""
    out, stack = set(), [(node, frozenset())]
    while stack:
        node, bound = stack.pop()
        if isinstance(node, _SCOPES):
            bound = bound | _binds(node)
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load) and node.id not in bound:
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            out.add(node.name.rsplit(".", 1)[-1])
        stack.extend((child, bound) for child in ast.iter_child_nodes(node))
    return out


def _definitions(tree):
    """(bare name, node) for every top-level definition of a module."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            yield node.name, node
        elif isinstance(node, (ast.Import, ast.ImportFrom)):  # ``import a as b``: b reaches a
            yield from ((alias.asname, alias) for alias in node.names if alias.asname)
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            for target in getattr(node, "targets", [getattr(node, "target", None)]):
                yield from ((n.id, node) for n in ast.walk(target) if isinstance(n, ast.Name))
        elif not isinstance(node, ast.Expr):  # a loop or branch fills every table it names
            yield from ((name, node) for name in {n.id for n in ast.walk(node) if isinstance(n, ast.Name)})


def build_index():
    """bare name → [(module, name)], (module, name) → reached names, and
    the entry module's tree."""
    paths = glob.glob(os.path.join(REPO_ROOT, "dss_plugin_google_cloud_vision_spark", "**", "*.py"), recursive=True)
    index, reach, trees = {}, {}, {}
    for path in [os.path.join(REPO_ROOT, ENTRY + ".py"), *sorted(paths)]:
        module = os.path.relpath(path, REPO_ROOT)[:-3].replace(os.sep, ".").removesuffix(".__init__")
        with open(path) as handle:
            trees[module] = ast.parse(handle.read(), path)
        for name, node in _definitions(trees[module]):
            index.setdefault(name, []).append((module, name))
            reach.setdefault((module, name), set()).update(_refs(node))
    return index, reach, trees[ENTRY]


def entry_roots(entry_tree) -> dict:
    """Entry name → the names in its ``queries()`` and ``oracle_sql()`` values."""
    roots = {}
    for func in ("queries", "oracle_sql"):
        (node,) = [n for n in entry_tree.body if isinstance(n, ast.FunctionDef) and n.name == func]
        (table,) = [n.value for n in ast.walk(node) if isinstance(n, ast.Return)]
        for key, value in zip(table.keys, table.values):
            roots.setdefault(key.value, set()).update(_refs(value))
    return roots


def gate(touching) -> list:
    """Entries that reach any ``module.name`` (``module``: a dotted suffix of
    the module path). Every homonym of a reached name counts: a gate may
    over-approximate. ``KeyError`` lists names that match nothing."""
    index, reach, entry_tree = build_index()
    touched, unknown = set(), []
    for spec in touching:
        module, _, name = spec.rpartition(".")
        keys = {k for k in index.get(name, ()) if ("." + k[0]).endswith("." + module)}
        touched |= keys
        unknown += [] if keys else [spec]
    if unknown:
        raise KeyError(unknown)
    gated = []
    for entry, todo in entry_roots(entry_tree).items():
        seen, todo = set(), list(todo)
        while todo:
            for key in index.get(todo.pop(), ()):
                if key not in seen:
                    seen.add(key)
                    todo.extend(reach[key])
        gated += [entry] if touched & seen else []
    return gated


_NUMBERED = (
    r"#\d+",  # expression ids
    r"\blambda \w+?_\d+\b",  # lambda variables (fresh names per build)
    r"\bplan_id=\d+",  # exchange and broadcast ids
    r"\b\w*RDD\[\d+\]( at \w+ at \S+?:\d+)?",  # checkpointed RDDs: id and JVM call site
    r"\bpythonUDF\d+",  # Python-UDF result columns
    re.escape(tempfile.gettempdir()) + r"/\w+?_\w{8}\b",  # __spark_entry__._lazy_scratch_dir paths
)


def normalize_plan(text: str) -> str:
    """Renumber each kind of build-specific token in first-appearance order."""
    for pattern in _NUMBERED:
        seen = {}
        text = re.sub(pattern, lambda m: seen.setdefault(m.group(), f"<{len(seen)}>"), text)
    return text.strip() + "\n"


def formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = parser.add_subparsers(dest="command", required=True)
    sub.add_parser("gate").add_argument("--touching", required=True, help="module.name[,...]")
    for command in ("time", "plan"):
        cmd = sub.add_parser(command)
        cmd.add_argument("names", help="comma-separated queries() entries")
        cmd.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"), help="default: $SPARK_GRAFT_SF_DIR, else __spark_entry__.DEFAULT_SF_DIR")
    sub.choices["time"].add_argument("--repeats", type=int, default=3)
    sub.choices["plan"].add_argument("--out", help="default: a new temp dir")
    args = parser.parse_args(argv)

    if args.command == "gate":
        try:
            print(",".join(gate([s for s in args.touching.split(",") if s])))
            return 0
        except KeyError as error:
            print(f"no such definition: {', '.join(error.args[0])}", file=sys.stderr)
            return 2

    sys.path.insert(0, REPO_ROOT)
    import __spark_entry__ as entrymod
    from dss_plugin_google_cloud_vision_spark.session import get_spark

    queries, names = entrymod.queries(), [n for n in args.names.split(",") if n]
    sf_dir = args.sf_dir or entrymod.DEFAULT_SF_DIR
    unknown = sorted(set(names) - set(queries))
    if unknown or not names:
        sys.exit(f"no such queries() entry: {', '.join(unknown) or '(none named)'}")
    if args.command == "plan":
        spark, out = get_spark(app_name="queries-plan", cores=8), args.out or tempfile.mkdtemp(prefix="plans_")
        os.makedirs(out, exist_ok=True)
        for name in names:
            with open(os.path.join(out, f"{name}.txt"), "w") as handle:
                handle.write(normalize_plan(formatted(queries[name](spark, sf_dir))))
        print("wrote", len(names), "plans to", out)
        return 0

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))  # bench.py's session
    conf = {"spark.sql.files.maxPartitionBytes": "2m", "spark.sql.files.openCostInBytes": "512k"}
    spark = get_spark(app_name="queries-time", cores=cpus, shuffle_partitions=str(cpus), extra_conf=conf)

    def run(name):
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    run(names[0])  # warms python workers and the JVM
    samples = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"time: {name}")
        samples[name] = []
        for _ in range(args.repeats):
            started = time.perf_counter()
            run(name)
            samples[name].append(round(time.perf_counter() - started, 3))
        print(name, samples[name], "min", min(samples[name]), flush=True)
    print(json.dumps(samples))
    return 0


if __name__ == "__main__":
    sys.exit(main())
