"""Iterative operators barrier every round with an eager
``localCheckpoint`` and release each round once nothing reads it.

* a path graph never converges early, so min-label propagation runs
  every round — the plan must not grow with the round count;
* each operator's call leaves behind exactly the persisted RDDs its
  returned frame reads (no per-round checkpoint or loop cache leaks);
* no ``persist()`` inside a loop body: a ``persist()`` barrier keeps
  the whole lineage, so the plan grows every round."""

import ast
import math
import pathlib
import time

import pytest

PKG = pathlib.Path(__file__).resolve().parent.parent / "html5ever_elixir_spark"


def test_path_graph_runs_every_round_in_linear_time(spark):
    from html5ever_elixir_spark.operators.dedup import cc_label_propagation

    n, rounds = 200, 30
    ids = spark.range(n).selectExpr("id AS doc_id")
    pairs = spark.range(n - 1).selectExpr("id AS id_a", "id + 1 AS id_b")
    t0 = time.monotonic()
    got = {
        r.doc_id: r.cluster_id
        for r in cc_label_propagation(ids, pairs, max_iter=rounds).collect()
    }
    elapsed = time.monotonic() - t0
    # one hop per round, no early stop while labels still change
    assert got == {i: max(0, i - rounds) for i in range(n)}
    assert elapsed < 60, f"{rounds} rounds took {elapsed:.1f} s"


def _persistent_rdd_ids(spark):
    ids = spark.sparkContext._jsc.sc().getPersistentRDDs().keySet()
    it = ids.iterator()
    out = set()
    while it.hasNext():
        out.add(int(it.next()))
    return out


def _rdd_ids_read_by(df):
    """RDD ids of the LogicalRDD leaves (checkpoints) ``df`` reads."""
    leaves = df._jdf.queryExecution().logical().collectLeaves()
    out = set()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            out.add(leaf.rdd().id())
    return out


def _docs(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    rows = []
    for i in range(24):
        words = list(base)
        for j in range(i % 4):  # drift so neighbours chain
            words[j] = f"w{i}x{j}"
        rows.append((i, " ".join(words)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _embeddings(spark):
    rows = []
    for i in range(30):
        a = 2 * math.pi * (i // 3) / 10 + 0.01 * (i % 3)
        rows.append((i, [math.cos(a), math.sin(a)], i % 2))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    )


def _calls(spark):
    from html5ever_elixir_spark.operators import dedup, graph, similarity
    from html5ever_elixir_spark.operators.textstats import bpe_train

    docs = _docs(spark)
    ids = spark.range(40).selectExpr("id AS doc_id")
    pairs = spark.range(39).selectExpr("id AS id_a", "id + 1 AS id_b")
    nodes = spark.range(50).selectExpr("id AS node")
    edges = spark.range(49).selectExpr("id AS src", "(id + 1) % 50 AS dst")
    emb = _embeddings(spark)
    return {
        "cc_label_propagation": lambda: dedup.cc_label_propagation(
            ids, pairs, max_iter=6
        ),
        "lsh_connected_components": lambda: dedup.lsh_connected_components(
            docs
        ),
        "neardup_clusters": lambda: similarity.neardup_clusters(
            emb, threshold=0.99
        ),
        "pagerank": lambda: graph.pagerank(edges, nodes, iters=5),
        "bpe_train": lambda: bpe_train(docs, n_merges=4),
    }


@pytest.mark.parametrize(
    "name",
    [
        "cc_label_propagation",
        "lsh_connected_components",
        "neardup_clusters",
        "pagerank",
        "bpe_train",
    ],
)
def test_no_leaked_checkpoints(spark, name):
    call = _calls(spark)[name]
    # id sets, not counts: the ContextCleaner drops other tests' RDDs
    # concurrently, which only ever removes ids from the set
    before = _persistent_rdd_ids(spark)
    out = call()
    added = _persistent_rdd_ids(spark) - before
    assert added == _rdd_ids_read_by(out)
    assert added, "the result reads its own checkpoint"
    out.collect()  # nothing it reads was released


def _persist_calls_in_loops(tree):
    for loop in ast.walk(tree):
        if isinstance(loop, (ast.For, ast.While)):
            for node in ast.walk(loop):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "persist"
                ):
                    yield node.lineno


def test_no_persist_inside_a_loop():
    offenders = [
        f"{path.relative_to(PKG)}:{line}"
        for d in ("operators", "plans")
        for path in sorted((PKG / d).glob("*.py"))
        for line in _persist_calls_in_loops(ast.parse(path.read_text()))
    ]
    assert offenders == [], "persist() barrier in a loop: " + ", ".join(offenders)
