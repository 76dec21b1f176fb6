"""Where materialized intermediate state lives: the one policy every
operator, plan and table path in the package goes through.

Callers state an intent; both return ``(frame, release)``:

* :func:`reuse` — the frame is read by several actions (a change feed
  probed, merged and rewritten; a delta written and then counted).
* :func:`cut` — the frame must stop depending on its inputs: a loop
  round, a result that outlives the cached inputs it was built from,
  or rows about to overwrite the path they were read from.

The storage follows from the deployment, decided here only. Cluster
mode is a SparkContext with a checkpoint dir, set with one line at
startup (``spark.sparkContext.setCheckpointDir("hdfs://...")``)::

    intent  local (no checkpoint dir)     cluster (checkpoint dir set)
    reuse   localCheckpoint(eager=True)   persist()
    cut     localCheckpoint(eager)        checkpoint(eager=True)

``localCheckpoint`` is one job that materializes the frame AND
truncates its lineage, so later actions plan against a flat RDD scan
instead of re-analyzing the input plan and re-running its AQE stage
jobs. But its blocks are pinned to the executors that computed them:
one executor loss makes them unrecoverable and fails the application.
So on a cluster, state that can still be recomputed from its inputs
is persisted, and state that must not depend on them goes to the
reliable checkpoint filesystem (one write+read of the state, in
exchange for surviving executor loss). Staging for an in-place
overwrite is a ``cut``, never a ``reuse``: once the overwrite starts,
the files a lost block would be recomputed from are gone.

``release()`` frees the executor blocks in local mode
(``rdd.unpersist``), the cached blocks of a cluster ``reuse``, and the
``rdd-*`` directory of a cluster ``cut``. Call it once nothing can
read the frame any more: a released local or cut frame fails loudly
when read (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND, a missing checkpoint
file); a released cluster ``reuse`` recomputes.

``cut(df, eager=False)`` (local mode only) skips the dedicated
materialization job when the caller's very next action consumes the
frame anyway: Spark's post-job checkpoint completes the truncation, so
a convergence-probe loop pays one job per round instead of two.
Cluster mode always materializes eagerly, so the state is on stable
storage before the round is declared done. A loop that needs a
per-round figure instead (a changed-label count, an edge-set
fingerprint) puts an ``Observation`` on the frame it cuts eagerly:
the materialization job fills it. On a lazily cut frame the
Observation completes at once with zeros, before any job has run.

Loops cut through a :class:`LineageTruncator`. Neither reliable
checkpoints (``spark.cleaner.referenceTracking.cleanCheckpoints`` is
false by default, and cleanup waits on JVM GC of the RDD) nor local
checkpoint blocks are reclaimed promptly, so a bare per-round ``cut``
would hold O(iterations x state). Once round ``n-1`` is materialized
nothing reads round ``n-2`` again, since each round is computed only
from its predecessor. The truncator keeps two rounds: the returned
frame reads its own storage lazily, and keeping its parent too keeps
callers that compare consecutive rounds (convergence tests) safe. A
lazily cut round is released only once a newer round is materialized:
until then the newer rounds' plans still compute it, and a job that
reaches a released, not yet materialized local checkpoint fails
("Storage level ... is not appropriate for local checkpointing").

BFS is the exception and never releases a hop: its ``visited`` frame
is a union of EVERY hop's cut frontier, so no hop is dead until the
caller is done, and its footprint is already O(V), not O(V x hops).

Results are bit-identical across both modes: materialization changes
where state is stored, never its value.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

__all__ = ["reuse", "cut", "LineageTruncator"]

Release = Callable[[], None]


def _cluster_mode(df: DataFrame) -> bool:
    return df.sparkSession.sparkContext.getCheckpointDir() is not None


def _rdd(df: DataFrame):
    """The JVM RDD behind a frame returned by (local)checkpoint: its
    analyzed plan is a LogicalRDD over the checkpointed RDD."""
    return df._jdf.queryExecution().analyzed().rdd()


def _unpersist(df: DataFrame) -> Release:
    return lambda: _rdd(df).unpersist(False)


def _delete_checkpoint_files(df: DataFrame) -> Release:
    def release() -> None:
        opt = _rdd(df).getCheckpointFile()
        if not opt.isDefined():
            return
        sc = df.sparkSession.sparkContext
        jpath = sc._jvm.org.apache.hadoop.fs.Path(opt.get())
        # Hadoop FileSystem API: scheme-correct on HDFS/S3A/file alike
        jpath.getFileSystem(sc._jsc.hadoopConfiguration()).delete(jpath, True)

    return release


def reuse(df: DataFrame) -> tuple[DataFrame, Release]:
    """Materialize ``df`` for several actions (see module docstring)."""
    if _cluster_mode(df):
        out = df.persist()
        return out, out.unpersist
    out = df.localCheckpoint(eager=True)
    return out, _unpersist(out)


def cut(df: DataFrame, *, eager: bool = True) -> tuple[DataFrame, Release]:
    """Materialize ``df`` and truncate its lineage (see module
    docstring; ``eager=False`` is honored in local mode only)."""
    if _cluster_mode(df):
        out = df.checkpoint(eager=True)
        return out, _delete_checkpoint_files(out)
    out = df.localCheckpoint(eager=eager)
    return out, _unpersist(out)


class LineageTruncator:
    """Per-loop :func:`cut` with bounded storage: keeps the two newest
    rounds and releases older ones (see module docstring).

    One instance per operator invocation; call it where the loop cuts
    a round. Only safe when each round is computed solely from the
    previous one and no earlier round's frame is referenced after the
    next call (true for PageRank, label propagation, star CC and the
    BPE rewrite; NOT for BFS's visited-union).
    """

    def __init__(self) -> None:
        self._rounds: list[tuple[DataFrame, Release]] = []

    def __call__(self, df: DataFrame, *, eager: bool = True) -> DataFrame:
        out, release = cut(df, eager=eager)
        self._rounds.append((out, release))
        # rounds before the newest materialized one are dead: its
        # lineage no longer reaches them
        newest_done = max(
            (i for i, (r, _) in enumerate(self._rounds) if _rdd(r).isCheckpointed()),
            default=0,
        )
        dead = min(newest_done, len(self._rounds) - 2)
        for _, rel in self._rounds[:dead]:
            rel()
        del self._rounds[:dead]
        return out
