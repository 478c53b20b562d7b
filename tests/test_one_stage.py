"""Each pipeline composes its stages from one definition: the curation
plans call every stage once, the streams share one sink, and the LSH
operators share one bucket-min label seed. The guards are a pure
``ast`` scan; the seed test runs Spark."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "html5ever_elixir_spark"


def _calls(path, name):
    """Lines of the calls to ``name`` (plain or attribute) in ``path``."""
    return [
        node.lineno
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and name in (getattr(node.func, "id", None),
                     getattr(node.func, "attr", None))
    ]


def test_curation_calls_each_stage_once():
    path = PKG / "plans" / "curation.py"
    for stage in ("lsh_keepers", "stratified_sample", "quality_filter",
                  "scrub_pii", "decontaminate"):
        assert len(_calls(path, stage)) == 1, stage


def test_streams_share_one_sink():
    uses = [
        (path.name, node.lineno)
        for path in sorted((PKG / "streaming").glob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Attribute) and node.attr == "writeStream"
    ]
    assert len(uses) == 1, uses


def test_bucket_min_window_defined_once():
    # the (band, bh) bucket-min window is the label seed of both
    # lsh_clusters and lsh_connected_components
    tree = ast.parse((PKG / "operators" / "dedup.py").read_text())
    windows = [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "partitionBy"
        and [getattr(a, "value", None) for a in node.args] == ["band", "bh"]
    ]
    assert len(windows) == 1, windows


def test_lsh_cc_seed_round_is_lsh_clusters(spark):
    from html5ever_elixir_spark.operators.dedup import (
        lsh_clusters,
        lsh_connected_components,
    )

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    ).split()
    # an edit chain: each doc rewrites three more leading words
    chain = [
        " ".join([f"e{i}x{j}" for j in range(3 * i)] + base[3 * i:])
        for i in range(3)
    ]
    dup = "one two three four five six seven eight nine ten eleven twelve"
    rows = (
        [(i, t) for i, t in enumerate(chain)]
        + [(10, dup), (11, dup), (12, dup)]
        + [(20, None), (21, "too short"), (22, "unrelated words " * 6)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    seed = {
        r.doc_id: r.cluster_id
        for r in lsh_connected_components(docs, max_iter=0).collect()
    }
    one_round = {r.doc_id: r.cluster_id for r in lsh_clusters(docs).collect()}
    assert seed == one_round
    assert len(seed) == len(rows)
    # the corpus exercises merging, not only singletons
    assert one_round[11] == one_round[12] == 10
    assert one_round[1] == 0
