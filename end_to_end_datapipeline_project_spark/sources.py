"""Partition-aware, schema-declared sources (reference S4/S5 done right).

The reference materializes the file list with Python ``glob.glob`` in the
driver (gtfstransformerSilver.py:11) — a driver-side bottleneck and no
partition pruning.  We read the base directory and let Spark's Hive-style
partition discovery + Catalyst partition pruning select files: on a
100 TB lake only the matching ``year=/month=/day=`` directories are listed
and scanned.

Both readers declare their schema (``schemas.py``): the Bronze JSON
envelope and the testdata parquet tables alike.  Building either
DataFrame therefore launches no Spark job; an inferred parquet read
launches one per call to read a footer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import BRONZE_SCHEMA, TESTDATA_SCHEMAS


def read_bronze(
    spark: SparkSession,
    base_path: str,
    year: int | None = None,
    month: int | None = None,
    day: int | None = None,
) -> DataFrame:
    """Read the raw JSON landing zone with the declared envelope schema.

    ``basePath`` keeps the partition columns (year/month/day) visible so the
    equality filters below prune partitions at planning time — check with
    ``.explain()``: the FileScan shows ``PartitionFilters``.
    """
    from pyspark.sql import types as T

    # fresh StructType — StructType.add() mutates in place, which would
    # pollute the shared BRONZE_SCHEMA
    read_schema = T.StructType(
        list(BRONZE_SCHEMA.fields)
        + [
            T.StructField("year", T.IntegerType(), True),
            T.StructField("month", T.IntegerType(), True),
            T.StructField("day", T.IntegerType(), True),
        ]
    )
    df = (
        spark.read.option("multiline", "true")
        .option("basePath", base_path)
        .schema(read_schema)
        .json(base_path)
    )
    for name, val in (("year", year), ("month", month), ("day", day)):
        if val is not None:
            df = df.filter(F.col(name) == val)
    return df.drop("year", "month", "day")


def read_parquet_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table (TESTDATA.md) with its declared
    schema (:data:`schemas.TESTDATA_SCHEMAS`), so the read launches no
    Spark job; every timestamp column is ``timestamp_ntz``."""
    # oracle-parity confs must hold even on a vanilla driver session
    # (SURVEY.md §7.4: pinned UTC, ANSI on) — the session factory sets
    # them too, but the driver contract may hand us any SparkSession.
    # DELIBERATE session-wide side effect: these pins persist for the
    # session's lifetime, which is the engine's documented contract
    # (every query and the GTFS batch path assume UTC + ANSI; cleanse
    # uses try_-variants where lax parsing is the semantic).  A caller
    # needing different session semantics must use a separate session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    return spark.read.schema(TESTDATA_SCHEMAS[name]).parquet(
        f"{sf_dir}/{name}.parquet"
    )


def stage_dir(root: str, epoch: str, sf_dir: str, leaf: str) -> str:
    """Content-keyed staging dir under /tmp for derived test fixtures.

    Keyed on the source dir's absolute path AND every parquet's
    (name, mtime_ns, size): two datasets sharing a basename never
    collide, and regenerating the testdata in place invalidates every
    derived stage (the _SUCCESS/_STAGED-marker skips callers use would
    otherwise serve stale copies).  ``epoch`` covers CODE changes to the
    staging transformation — the fingerprint only sees input data, so a
    semantics change must bump its caller's epoch.  The root is
    uid-suffixed so multi-user hosts never fight over /tmp ownership.
    """
    import os

    tag = stage_fingerprint(epoch, sf_dir)
    return f"/tmp/{root}_{os.getuid()}/{tag}/{leaf}"


#: process-wide tmp-name counter for claim_staged (next() is atomic
#: under the GIL)
_STAGE_TMP_SEQ = __import__("itertools").count()


def claim_staged(final_dir: str, build) -> None:
    """Multi-process-safe build-once staging: publish a directory
    atomically via build-into-tmp + rename.

    A bare check-then-act marker (``if not exists(marker): write; touch
    marker``) lets two processes (e.g. bench.py and pytest on the same
    content-keyed stage) both pass the check and overwrite each other's
    in-flight output.  Here ``build(tmp_dir)`` writes into a
    process-unique sibling, and os.rename publishes it — the final dir
    therefore only ever EXISTS fully written (existence IS the marker),
    and a builder that loses the rename race discards its copy.
    """
    import glob
    import os
    import shutil

    if os.path.exists(final_dir):
        return
    # sweep .build.* siblings orphaned by crashed builders (their pid is
    # gone, so nothing will ever rename them).  The pid probe is
    # host-local, so it is gated on mtime age too: on a shared
    # filesystem a live builder on ANOTHER host would look dead to
    # os.kill, and conversely local pid reuse would look alive — only
    # dirs that are both pid-dead AND untouched for >10 minutes are
    # swept (an active build touches its tmp far more often; staging is
    # primarily same-host, the age gate just makes cross-host listing
    # safe instead of destructive)
    import time

    _STALE_AGE_S = 600

    def _tree_mtime(root: str, cap: int = 256) -> float:
        # the top-level dir's mtime only moves when DIRECT entries
        # change — a live builder writing inside nested subdirs (e.g.
        # Spark's _temporary/...) would look untouched.  Take the max
        # mtime over the tree, capped so a huge half-built stage never
        # turns the sweep into a full walk (newest activity is almost
        # always within the first few hundred entries; if not, the cap
        # errs on the KEEP side only when recent files sort late, and
        # the pid gate still protects same-host builders)
        newest = os.path.getmtime(root)
        seen = 0
        for dirpath, _dirnames, filenames in os.walk(root):
            for name in filenames + [""]:
                try:
                    p = os.path.join(dirpath, name) if name else dirpath
                    newest = max(newest, os.path.getmtime(p))
                except OSError:
                    pass  # file vanished mid-walk (live builder)
                seen += 1
                if seen >= cap:
                    return newest
        return newest

    for stale in glob.glob(f"{final_dir}.build.*"):
        pid = stale.rsplit(".build.", 1)[1].split("_", 1)[0]
        try:
            if time.time() - _tree_mtime(stale) < _STALE_AGE_S:
                continue
        except OSError:
            continue  # vanished under us — someone else swept it
        try:
            os.kill(int(pid), 0)
        except (ProcessLookupError, ValueError):
            shutil.rmtree(stale, ignore_errors=True)
        except PermissionError:
            pass  # pid alive under another uid — leave it
    tmp = f"{final_dir}.build.{os.getpid()}_{next(_STAGE_TMP_SEQ)}"
    try:
        build(tmp)
        os.rename(tmp, final_dir)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        # only a lost publish race is benign; a genuine failure (EACCES,
        # ENOTDIR, a build() IO error) must surface, not become a later
        # unrelated 'path does not exist' read error
        if not os.path.exists(final_dir):
            raise


def stage_fingerprint(epoch: str, sf_dir: str) -> str:
    """The content-hash tag stage_dir keys its directories on — exposed
    so callers that need the fingerprint itself (e.g. content-keyed
    TABLE names in physical.q_bucketed_join) never parse it back out of
    the path layout."""
    import hashlib
    import os

    fp = [epoch, os.path.abspath(sf_dir)]
    try:
        for entry in sorted(os.scandir(sf_dir), key=lambda e: e.name):
            if entry.name.endswith(".parquet"):
                st = entry.stat()
                fp.append(f"{entry.name}:{st.st_mtime_ns}:{st.st_size}")
    except FileNotFoundError:
        pass
    return hashlib.md5("|".join(fp).encode()).hexdigest()[:16]


def pin_parallelism(df: DataFrame, *keys: str) -> DataFrame:
    """Explicit hash repartition to all cores before a Python-heavy or
    hash-heavy stage (grouped-map pandas UDFs, per-row md5 cascades).

    AQE sizes exchanges by shuffle BYTES, but these stages' cost driver
    is per-row/per-group Python or digest work — a few-MB input gets
    coalesced to 1-2 partitions and the expensive stage serializes on
    1-2 of the cluster's cores (measured 2.5 s → 0.9 s on
    q_user_sequences at sf0.1).  Hashing on the supplied keys satisfies
    a downstream groupBy-on-the-same-keys distribution requirement, so
    no second shuffle is inserted.  Cousin of graph._fanout_repartition,
    which pins the partition count BELOW cores to trade explode
    parallelism against map-side dedup efficiency.
    """
    cores = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(cores, *[F.col(k) for k in keys])


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str]
) -> dict[str, DataFrame]:
    return {n: read_parquet_table(spark, sf_dir, n) for n in names}
