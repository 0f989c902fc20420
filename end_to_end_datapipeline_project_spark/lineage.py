"""The one lineage cut.

Every eager materialization in the engine goes through :func:`cut`: a
DataFrame whose plan would otherwise grow with each iteration or be
re-executed by each consumer is checkpointed, its job labelled
``cut:<label>``, and its plan replaced by a scan of the stored blocks.

The scan keeps the planner's size estimate of the plan it replaced,
often orders of magnitude above the bytes stored, so a join over a cut
is planned as a sort-merge join and AQE runs a shuffle-map job per side
before it switches to a broadcast.  An eager local cut whose stored
blocks total at most ``spark.sql.autoBroadcastJoinThreshold`` therefore
carries a broadcast hint, and the static plan is the one AQE would pick.

Under AQE the scan also forgets how the blocks are partitioned: the
checkpoint reads the partitioning of the adaptive plan's wrapper, which
is unknown, so an aggregate or join over the cut re-shuffles blocks
already hashed on its key.  A cut told that key (``by``) rebuilds its
scan with the partitioning of the final plan that stored the blocks.

A cut can carry aggregates (``observe``) that ride the checkpoint job
itself as Observation metrics, so a row count or convergence test that
follows a cut costs no job of its own.  Reading them never hangs: the
read waits at most :data:`OBSERVE_WAIT_S` for the metrics and otherwise
computes the same aggregates over the cut frame in one counted job.
"""

from __future__ import annotations

import time
from typing import Sequence

from py4j.protocol import Py4JError, Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation

from .session import is_local_master

#: how long an observed metric read waits for the metrics to arrive
#: before it computes them with an explicit aggregate instead.  They
#: normally arrive within a few ms of the job: the listener that
#: completes an Observation runs on the listener bus, after the action.
OBSERVE_WAIT_S = 10.0

#: parent of the checkpoint directory a cut sets on a shared default
#: file system when the application has none (:func:`_checkpoint_dir`)
CHECKPOINT_ROOT = "/tmp/spark-graft-checkpoints"

#: attribute marking a DataFrame that is the output of a cut
_CUT_ATTR = "_graft_cut"


def is_cut(df: DataFrame) -> bool:
    # the instance dict, not getattr: DataFrame.__getattr__ resolves
    # unknown names as columns
    return vars(df).get(_CUT_ATTR) is not None


def cut(
    df: DataFrame,
    label: str,
    observe: Sequence[Column] | None = None,
    *,
    drop: Sequence[str] = (),
    eager: bool = True,
    by: Sequence[str] = (),
):
    """Materialize ``df`` and cut its lineage.

    On a local master the blocks are stored by ``localCheckpoint()``; on
    any other master by a reliable ``checkpoint()``, because a local
    checkpoint is lost with the executor that held it.  That needs a
    checkpoint directory every node can reach (:func:`_checkpoint_dir`);
    without one the cut stays a ``localCheckpoint()``.

    ``observe``: aliased aggregate Columns computed inside the
    checkpoint job; the call then returns ``(cut_df, metrics dict)``.
    ``drop`` names helper columns only those aggregates read: they are
    projected away after the metrics and before the blocks are stored.
    Without ``observe``, a ``df`` that is already the output of a cut is
    returned as is, with no job.  ``eager=False`` defers storing the
    blocks to the first action on the result; it cannot carry metrics.
    It does not make building the frame free: under AQE, building it
    runs every map stage below its last exchange, one job each.

    ``by`` names the key the caller will aggregate or join the cut on.
    When the blocks were stored hashed on exactly those columns, the cut
    keeps that partitioning (:func:`_keep_partitioning`), so the planner
    adds no exchange for it; otherwise the cut is as without ``by``.
    Only an eager cut has stored blocks to describe."""
    if by and not eager:
        raise ValueError("a lazy cut has no stored partitioning to keep")
    if observe is None:
        if drop:
            raise ValueError("drop only applies to observed helper columns")
        return df if is_cut(df) else _checkpoint(df, label, eager, by)
    if not eager:
        raise ValueError("a lazy cut cannot carry observed metrics")
    o = Observation()
    ck = _checkpoint(df.observe(o, *observe).drop(*drop), label, eager, by)
    # the fallback aggregate needs the helper columns the cut dropped
    return ck, metrics(o, df if drop else ck, observe)


def _checkpoint(
    df: DataFrame, label: str, eager: bool, by: Sequence[str]
) -> DataFrame:
    sc = df.sparkSession.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setLocalProperty("spark.job.description", f"cut:{label}")
    try:
        local = is_local_master(sc.master) or _checkpoint_dir(sc) is None
        if local:
            out = df.localCheckpoint(eager=eager)
        else:
            out = df.checkpoint(eager=eager)
        if by:
            out = _keep_partitioning(df, out, by)
        if local and eager and _fits_broadcast(out):
            out = out.hint("broadcast")
    finally:
        sc.setLocalProperty("spark.job.description", prev)
    setattr(out, _CUT_ATTR, label)
    return out


def _keep_partitioning(
    df: DataFrame, ck: DataFrame, by: Sequence[str]
) -> DataFrame:
    """``ck`` (the eager cut of ``df``) with its scan rebuilt to carry
    the output partitioning of the final adaptive plan that stored its
    blocks, when that partitioning hashes on exactly the columns ``by``
    names into as many partitions as were stored.  (A final plan that
    projects its hash key away reports no partitioning on it.)  In any
    other case, or on any py4j error (no adaptive plan, a partitioning
    that is no expression), ``ck`` as is: a cut whose partitioning is
    not kept is never wrong, only re-shuffled.  Launches no job."""
    try:
        scan = ck._jdf.queryExecution().analyzed()
        final = df._jdf.queryExecution().executedPlan().executedPlan()
        part = final.outputPartitioning()
        refs = part.references()
        cols = refs.toSeq()
        names = {cols.apply(i).name() for i in range(cols.size())}
        if (
            names != set(by)
            or part.numPartitions() != scan.rdd().getNumPartitions()
        ):
            return ck
        # LogicalRDD's second parameter list: session, stats, constraints
        extra = scan.otherCopyArgs()
        kept = scan.copy(
            scan.output(),
            scan.rdd(),
            part,
            scan.outputOrdering(),
            scan.isStreaming(),
            scan.stream(),
            extra.apply(0),
            extra.apply(1),
            extra.apply(2),
        )
        spark = ck.sparkSession
        jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, kept
        )
    except Py4JError:
        return ck
    return type(ck)(jdf, spark)


def _fits_broadcast(ck: DataFrame) -> bool:
    """Whether the blocks an eager ``localCheckpoint()`` stored total at
    most ``spark.sql.autoBroadcastJoinThreshold`` (never, when that is
    negative).  The block updates reach the status store on the listener
    bus before the job ends; the read waits for the bus to drain and
    launches no job.  An unknown size is no."""
    spark = ck.sparkSession
    limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    if limit < 0:
        return False
    jsc = spark.sparkContext._jsc.sc()
    try:
        jsc.listenerBus().waitUntilEmpty()
        info = jsc.statusStore().rdd(ck._jdf.queryExecution().analyzed().rdd().id())
    except Py4JJavaError:  # bus still busy after its wait, or no blocks
        return False
    return info.memoryUsed() + info.diskUsed() <= limit


def _checkpoint_dir(sc) -> str | None:
    """The application's checkpoint directory.  An application without
    one gets :data:`CHECKPOINT_ROOT`/<app id> on the default file
    system, deleted when the driver JVM exits, if that file system is
    shared (HDFS, S3, ...).  A ``file:`` default is each node's own
    disk: executors would write partitions the driver cannot list, so
    there the answer is ``None`` and the cut stays local."""
    d = sc.getCheckpointDir()
    if d is not None:
        return d
    fs = _default_fs(sc)
    if fs.getUri().getScheme() == "file":
        return None
    path = fs.makeQualified(
        sc._jvm.org.apache.hadoop.fs.Path(
            f"{CHECKPOINT_ROOT}/{sc.applicationId}"
        )
    )
    sc.setCheckpointDir(path.toString())
    # checkpoint files outlive their RDDs unless the deploy turns on
    # spark.cleaner.referenceTracking.cleanCheckpoints
    fs.deleteOnExit(path)
    return sc.getCheckpointDir()


def _default_fs(sc):
    return sc._jvm.org.apache.hadoop.fs.FileSystem.get(
        sc._jsc.hadoopConfiguration()
    )


def metrics(
    o: Observation, frame: DataFrame, exprs: Sequence[Column]
) -> dict:
    """The metrics of ``o`` once its action has run, waiting at most
    :data:`OBSERVE_WAIT_S`; if none arrive, ``exprs`` aggregated over
    ``frame`` (one job) — the same values, never a guess."""
    from pyspark.serializers import CPickleSerializer

    deadline = time.monotonic() + OBSERVE_WAIT_S
    while True:
        opt = _row_or_empty(o)  # waits up to 100 ms inside the JVM
        if opt.isDefined():
            utils = o._jvm.org.apache.spark.sql.api.python.PythonSQLUtils
            row = CPickleSerializer().loads(utils.toPyRow(opt.get()))
            return row.asDict(recursive=False)
        if time.monotonic() >= deadline:
            return frame.agg(*exprs).first().asDict(recursive=False)


def _row_or_empty(o: Observation):
    return o._jo.getRowOrEmpty()
