"""The one place a plan is cut: ``materialize(df, why)``.

Cutting a plan — computing a frame once and reading the stored rows
back instead of its lineage — is decided here and nowhere else.

**When to materialize.**  Only when the result is much narrower than
its derivation *and* more than one job or plan branch reads it: a
keyed count table read by several rollups, a signature table both sides
of a self-join consume, the working set of an iterative loop.  Spark
never reuses a subtree across separate actions or across join sides
that do not share an exchange, so without the cut every consumer
re-runs the scan, tokenize and explode below it.  A table about as wide
as what it derives from (per-doc gram tables, a raw columnar scan)
costs more to store than to recompute: measured slower and reverted for
the BLEU/ROUGE gram tables (OPTIMIZATION_r12.md).  Iterative loops
(connected components, k-means, PQ training, power iteration, BFS)
materialize each round so the plan stays flat instead of stacking one
copy of the previous round per iteration.

**Which storage.**  With a checkpoint dir on the SparkContext (the
deployment setting ``spark.checkpoint.dir``), the frame is written
there by ``df.checkpoint``: reliable storage that survives executor
loss, at the price of a write to that storage.  Without one it is
``df.localCheckpoint``: blocks in executor storage, unreplicated, with
the lineage above them dropped — an executor lost after the cut fails
every job that still reads the frame, and Spark cannot recompute it.
That is fine on one JVM and for short-lived intermediates; a cluster
job that must survive executor loss sets ``spark.checkpoint.dir``.

**Eager or lazy.**  ``eager=True`` runs the job now.  ``eager=False``
marks the frame and lets the first action that reads it fill it, which
folds the materialization into that action's job.  Both keep the
lineage cut; which is faster is measured per site.

For the span of the call the Spark job description is ``why``, so a
job list names each materialization; the previous description is put
back afterwards and the job group is left alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_DESCRIPTION = "spark.job.description"


def materialize(df: DataFrame, why: str, *, eager: bool = True) -> DataFrame:
    """Cut ``df``'s plan here (see the module docstring for when);
    ``why`` names the cut in the Spark job list."""
    sc = df.sparkSession.sparkContext
    previous = sc.getLocalProperty(_DESCRIPTION)
    sc.setJobDescription(why)
    try:
        if sc.getCheckpointDir():
            return df.checkpoint(eager)
        return df.localCheckpoint(eager)
    finally:
        sc.setLocalProperty(_DESCRIPTION, previous)
