"""Mid-plan materialization with a cluster-safe switch.

Several operators materialize an intermediate frame to truncate
lineage: iterative algorithms (dedup_clusters' label propagation,
bpe_train's merge rounds) re-join a frame every round and would
otherwise replay the whole upstream DAG per iteration; snapshot
read-modify-write paths (incremental band/gram-count state, the corpus
pipeline's stage boundaries) must sever from a warehouse version they
are about to supersede.

``localCheckpoint`` is the fast local default — but it stores blocks on
executors WITHOUT lineage, so on a real cluster a lost executor kills
the job mid-iteration (dedup_clusters' label propagation and every
other call site alike, which is why this lives in one module). The
durable mode switches to reliable ``checkpoint()`` into the
fault-tolerant checkpoint directory (HDFS/S3 on a cluster) so iteration
survives executor loss; set
``spark.cleaner.referenceTracking.cleanCheckpoints=true`` to reap
superseded round files. The 100 TB posture is durable; the local
default keeps tests fast.

Deployments flip the mode session-wide with
``spark.graft.durableCheckpoint=true``, the one switch for every
operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

DURABLE_CONF = "spark.graft.durableCheckpoint"


def materialize(df: DataFrame) -> DataFrame:
    """Materialize ``df`` and truncate its lineage.

    The mode follows the session conf above (``"true"``/``"false"``,
    absent = false). Durable mode requires
    ``spark.sparkContext.setCheckpointDir(<fault-tolerant dir>)`` and
    refuses loudly without it — a silent localCheckpoint fallback would
    defeat the reason a deployment set the conf.
    """
    durable = (
        df.sparkSession.conf.get(DURABLE_CONF, "false") or "false"
    ).lower() == "true"
    if durable:
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            raise ValueError(
                "durable checkpointing requires "
                "spark.sparkContext.setCheckpointDir(<fault-tolerant dir>)"
            )
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
