"""Spark operators: the reference's parse surface re-expressed as
Arrow-vectorized DataFrame transforms, plus the training-data-pipeline
operators (dedup, similarity, text analysis) the 100 TB corpus needs."""


def release_checkpoint(df) -> None:
    """Drop the blocks of ``df``, a frame returned by
    ``localCheckpoint(eager=True)``. Reading ``df`` afterwards fails
    (``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``), so call it only after the
    last reader has run — for an iterative barrier, once the next
    round's checkpoint is materialized."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)
