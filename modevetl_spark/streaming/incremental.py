"""Incremental-batch contract: the reference's actual execution model.

``MoDevETL`` jobs run from cron: read the stored high-water mark, pull
docs with ``modified_ts > last_run`` (``hierarchy.py get_pending``),
transform, and idempotently upsert results into the sink by document id
(``env/elasticsearch.py extend`` with id-keyed bulk writes), then advance
the mark. This module reproduces that contract on parquet:

- :class:`Watermark` — durable high-water-mark storage (a tiny JSON file;
  on a cluster this lives in the job's state store).
- :func:`pull_newer` — the watermark-filtered scan (predicate pushes into
  the parquet reader).
- :func:`tick` — one cron run: pull the delta once, run the job's
  body on it, advance the mark.
- :func:`upsert_parquet` — id-keyed idempotent merge: existing rows whose
  keys collide with incoming rows are replaced (anti-join + union +
  atomic directory swap). The Delta/Iceberg MERGE is the managed-table
  form; this is the dependency-free equivalent with the same semantics.

Scale notes: upsert rewrites only what it must when the sink is
partitioned — pass ``partition_by`` and only the affected partitions are
rewritten (merged delta staged into a temp dir, then swapped in per
partition with rename-aside backups), the parquet analog of ES's
id-sharded bulk writes. "Affected" means partitions that incoming rows
land in, plus partitions holding an existing row whose key collides with
an incoming key (so a key that *moves* partitions is still deleted from
its old home — found with a key-columns-only semi-join, a column-pruned
scan, never a full rewrite). The unpartitioned fallback rewrites the
whole sink through the same rename-aside swap. Both paths leave every
partition either fully old or fully new at any crash point, with
backup-restore recovery on the next run.

Object-store boundary (honest): watermark state, existence probes, and
every READ path go through :mod:`modevetl_spark.sources.fs` and accept
``s3a://``/``hdfs://`` URIs. The upsert SWAP itself relies on atomic
directory rename, which object stores don't provide — on a lakehouse
the managed-table MERGE (Delta/Iceberg, jars absent in this container)
replaces exactly this layer; on HDFS the rename contract holds as-is.
The swap is deliberately the one local-semantics component, isolated
behind ``upsert_parquet``.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


class Watermark:
    """Durable high-water mark (epoch micros or any orderable scalar).

    State I/O goes through :mod:`modevetl_spark.sources.fs`: a scheme-
    less path stays plain local JSON (no SparkSession needed), while a
    URI path (``s3a://…/state.json``, ``file:/…``) routes through the
    Hadoop FileSystem of the provided session — the standing jobs keep
    their watermark next to the sink on the object store at 100 TB.
    """

    def __init__(self, path: str, spark: SparkSession | None = None):
        self.path = path
        self.spark = spark

    def read(self, default=None):
        from modevetl_spark.sources.fs import read_json_state

        state = read_json_state(self.spark, self.path)
        return default if state is None else state["watermark"]

    def write(self, value) -> None:
        from modevetl_spark.sources.fs import write_json_state

        write_json_state(self.spark, self.path, {"watermark": value})


def pull_newer(df: DataFrame, ts_col: str, watermark) -> DataFrame:
    """get_pending: rows strictly newer than the stored mark."""
    if watermark is None:
        return df
    return df.where(F.col(ts_col) > F.lit(watermark))


def _null_safe_key_join(
    left: DataFrame, incoming_keys: DataFrame, keys: list[str], how: str
) -> DataFrame:
    """Anti/semi join of ``left`` against the incoming key set with
    NULL-safe key equality. A plain ``on=keys`` join never matches
    NULL = NULL, so a null-keyed incoming row would fail to displace the
    existing null-keyed row — replaying the same delta after a crash
    would then add a duplicate per replay instead of converging, breaking
    the idempotence the crash contract depends on."""
    l, r = left.alias("__l"), incoming_keys.alias("__r")
    cond = F.lit(True)
    for k in keys:
        cond = cond & F.col(f"__l.{k}").eqNullSafe(F.col(f"__r.{k}"))
    return l.join(r, on=cond, how=how)


def _has_parquet_files(path: str) -> bool:
    """True if any .parquet data file exists under ``path`` — a sink
    directory holding only markers (``_SUCCESS``) has no schema to read.
    Delegates to the FS seam's single implementation
    (local branch: this module's sinks are local/HDFS-rename stores)."""
    from modevetl_spark.sources.fs import fs_has_parquet_files

    return fs_has_parquet_files(None, path)


def _touched_predicate(parts: list[dict], partition_by: list[str]) -> Column:
    """NULL-safe predicate selecting exactly the given partitions."""

    def part_pred(p: dict) -> Column:
        cond = F.lit(True)
        for c in partition_by:
            cond = cond & (F.col(c).eqNullSafe(F.lit(p[c])))
        return cond

    touched = part_pred(parts[0])
    for p in parts[1:]:
        touched = touched | part_pred(p)
    return touched


def _staging_dir(sink_path: str) -> str:
    """Per-run staging path: unique per process (concurrent runs cannot
    sweep each other's live staging — a shared fixed path let an
    overlapping cron run delete the staged output between write and swap,
    which the swap then read as 'every partition emptied'), yet
    recognizable (``<sink>.upsert_tmp.<pid>``) so :func:`_sweep_staging`
    can remove a crashed run's leftovers once its pid is dead."""
    return f"{sink_path.rstrip('/')}.upsert_tmp.{os.getpid()}"


def _sweep_staging(sink_path: str) -> None:
    """Remove staging dirs of dead runs (crashed before their own
    cleanup). Live pids are left alone; a recycled pid at worst delays
    the sweep until that pid exits."""
    import glob

    for d in glob.glob(sink_path.rstrip("/") + ".upsert_tmp.*"):
        try:
            pid = int(d.rsplit(".", 1)[-1])
        except ValueError:
            continue
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)
        except PermissionError:
            pass  # pid exists under another uid -> treat as alive


def upsert_parquet(
    spark: SparkSession,
    incoming: DataFrame,
    sink_path: str,
    keys: list[str],
    partition_by: list[str] | None = None,
) -> None:
    """Idempotent id-keyed upsert into a parquet directory.

    Incoming rows win on key collision (the reference's ES semantics: an
    updated doc replaces the indexed one).

    Partitioned sink: only affected partitions are rewritten (dynamic
    partition overwrite) — untouched partitions' files are left byte-for-
    byte in place, which is what makes an incremental run O(delta), not
    O(sink), at 100 TB. Affected = partitions incoming writes into, plus
    partitions owning a colliding key (located via a key-columns-only
    semi-join so the probe scan is column-pruned).

    Unpartitioned sink: full rewrite into a temp dir, then a rename-aside
    swap (new -> live only after old -> backup) so no crash point leaves
    the sink absent or half-written. The rewrite keeps the sink's read
    splits as its output partitions, folding the delta into them.

    The existing sink is read with ``incoming``'s schema, so no schema-
    inference job runs; a sink whose columns differ from ``incoming``'s
    raises before anything is written (checked on one file footer, on
    the driver). The key probe is ``incoming``'s key columns as they
    are: duplicate keys change neither a semi- nor an anti-join.
    """
    # Crash recovery: a crash between the swap's two renames leaves the
    # sink absent but its backup intact — restore it before anything else,
    # or this run would silently treat the sink as empty and write only
    # the delta (total loss of prior upserts).
    backup = sink_path.rstrip("/") + ".upsert_bak"
    if not os.path.exists(sink_path) and os.path.exists(backup):
        os.rename(backup, sink_path)
    _recover_partitioned(sink_path)

    # A sink directory with markers (_SUCCESS) but no data files (its
    # rows deleted outside this module) has no schema to read: reading it
    # raises UNABLE_TO_INFER_SCHEMA and every later run keeps failing.
    # Treat it as nonexistent; the swap below still rename-asides the
    # marker-only dir.
    exists = os.path.exists(sink_path) and _has_parquet_files(sink_path)
    if exists:
        existing = _read_sink(spark, incoming, sink_path, partition_by)
        if partition_by:
            _upsert_partitioned(existing, incoming, sink_path, keys, partition_by)
            return
        kept = _null_safe_key_join(
            existing, incoming.select(*keys), keys, "left_anti"
        )
        # Fold the delta into the sink's own read splits (at least one per
        # core), so a rewrite does not grow the sink by the delta's files.
        splits = max(
            existing.rdd.getNumPartitions(), spark.sparkContext.defaultParallelism
        )
        merged = kept.unionByName(incoming).coalesce(splits)
    else:
        merged = incoming

    # Per-run staging path (see _staging_dir); crashed runs' dirs are
    # swept by _sweep_staging once their pids die.
    tmp = _staging_dir(sink_path)
    shutil.rmtree(tmp, ignore_errors=True)
    writer = merged.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    out = os.path.join(tmp, "data")
    writer.parquet(out)
    if os.path.exists(sink_path):
        shutil.rmtree(backup, ignore_errors=True)
        os.rename(sink_path, backup)  # old stays recoverable until new lands
        os.rename(out, sink_path)
        shutil.rmtree(backup, ignore_errors=True)  # delete last
    else:
        os.replace(out, sink_path)
    shutil.rmtree(tmp, ignore_errors=True)


def _read_sink(
    spark: SparkSession,
    incoming: DataFrame,
    sink_path: str,
    partition_by: list[str] | None,
) -> DataFrame:
    """The existing sink, read with ``incoming``'s schema (no inference
    job). Its columns (one data file's footer plus the partition
    columns) must match ``incoming``'s, as ``unionByName`` would demand
    of an inferred read; a mismatch raises before anything is written."""
    import pyarrow.parquet as pq

    footer = next(
        os.path.join(d, f)
        for d, _, files in os.walk(sink_path)
        for f in sorted(files)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    have = {*pq.read_schema(footer).names, *(partition_by or ())}
    if {c.lower() for c in have} != {c.lower() for c in incoming.columns}:
        raise ValueError(
            f"upsert into {sink_path}: sink columns {sorted(have)} differ "
            f"from incoming columns {sorted(incoming.columns)}"
        )
    return spark.read.schema(incoming.schema).parquet(sink_path)


def _upsert_partitioned(
    existing: DataFrame,
    incoming: DataFrame,
    sink_path: str,
    keys: list[str],
    partition_by: list[str],
) -> None:
    """Partition-scoped merge: rewrite only partitions the delta touches.

    Crash contract mirrors the unpartitioned rename-aside swap, applied
    per partition: the merged result is written to a temp dir first, then
    each touched partition directory is swapped in (live -> backup,
    new -> live), with backups deleted only after every swap succeeded. No
    crash point leaves a partition half-written — each is either fully old
    or fully new — and :func:`_recover_partitioned` restores any partition
    stranded in the backup root on the next run. A partition the crashed
    run had emptied (all its keys moved elsewhere) is restored too and
    re-emptied when the same delta replays; the merge is idempotent.

    Writing to a temp dir (rather than dynamically overwriting the sink in
    place) also removes the self-read-overwrite hazard, so no checkpoint
    is needed to cut lineage.
    """
    # Partitions to rewrite: where incoming rows land, plus where colliding
    # keys currently live (a key may move partitions between runs). The
    # semi-join probe reads only key + partition columns (column pruning)
    # and its result is one row per touched partition — tiny by definition.
    # The incoming key set itself is delta-sized but unbounded (a backfill
    # batch can be huge), so it is NOT force-broadcast: AQE picks broadcast
    # vs shuffle from the measured size.
    inc_parts = incoming.select(*partition_by).distinct()
    collide_parts = (
        _null_safe_key_join(
            existing.select(*{*keys, *partition_by}),
            incoming.select(*keys),
            keys,
            "left_semi",
        )
        .select(*partition_by)
        .distinct()
    )
    parts = [r.asDict() for r in inc_parts.unionByName(collide_parts).distinct().collect()]
    if not parts:
        return

    touched = _touched_predicate(parts, partition_by)

    # Merge restricted to touched partitions; the filter on partition
    # columns prunes at the parquet-directory level, so untouched
    # partitions are never even read here.
    kept = _null_safe_key_join(
        existing.where(touched), incoming.select(*keys), keys, "left_anti"
    )
    merged = kept.unionByName(incoming.select(*existing.columns))

    # Per-run staging path: unique per process so an overlapping run's
    # sweep can never remove it mid-swap; crashed runs' dirs are removed
    # by _sweep_staging once their pids die (no unbounded leak).
    tmp = _staging_dir(sink_path)
    shutil.rmtree(tmp, ignore_errors=True)
    out = os.path.join(tmp, "data")
    merged.write.mode("overwrite").partitionBy(*partition_by).parquet(out)
    _swap_touched_partitions(sink_path, tmp, out, parts, partition_by)


def _swap_touched_partitions(
    sink_path: str,
    tmp: str,
    out: str,
    parts: list[dict],
    partition_by: list[str],
) -> None:
    """Swap tail of the partitioned upsert: pre-flight addressability
    checks, then per-partition rename-aside swap."""
    # Pre-flight: the swap addresses partition directories by the names
    # _hive_part_value constructs. If Spark's own rendering of any staged
    # partition diverges from ours (it trims fraction zeros in timestamps,
    # uses Java float formatting, ...), addressing by constructed name
    # would silently discard that partition's merged output — so verify
    # every directory Spark just wrote is one we can address, and abort
    # with ZERO sink mutation otherwise.
    rels = {
        tuple(p[c] for c in partition_by): os.path.join(
            *[f"{c}={_hive_part_value(p[c])}" for c in partition_by]
        )
        for p in parts
    }
    staged = {
        os.path.relpath(d, out)
        for d, subdirs, _ in os.walk(out)
        if d != out and not subdirs
    }
    # In upsert, parts nonempty implies incoming is nonempty, and incoming
    # rows always survive the merge — so at least one staged dir must
    # exist. An empty walk means the staging dir vanished out from under
    # us (external interference); proceeding would read every touched
    # partition as "emptied" and delete live data while reporting success.
    if not staged:
        raise RuntimeError(
            f"partitioned upsert aborted (sink untouched): staging dir {out} "
            "is empty or missing after a non-empty merge was written"
        )
    unaddressable = staged - set(rels.values())
    # The inverse direction guards emptied partitions: a touched partition
    # absent from the staged output must be a collision home (it has
    # existing rows), so its live dir must resolve — a miss means the
    # constructed name diverges and the swap would leave its stale rows
    # alive instead of deleting them.
    stale_miss = [
        rel
        for rel in rels.values()
        if rel not in staged and not os.path.exists(os.path.join(sink_path, rel))
    ]
    if unaddressable or stale_miss:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            "partitioned upsert aborted (sink untouched): partition dirs "
            f"{sorted(unaddressable) + sorted(stale_miss)} don't match the "
            "constructed names — _hive_part_value diverges from Spark's "
            "partition-path rendering for these values"
        )

    # Swap each touched partition in. A touched partition absent from the
    # written output was emptied by a key move — its live dir moves to
    # backup and is never replaced, which deletes it atomically.
    bakroot = sink_path.rstrip("/") + ".upsert_bak_parts"
    shutil.rmtree(bakroot, ignore_errors=True)
    os.makedirs(bakroot)
    for rel in rels.values():
        live = os.path.join(sink_path, rel)
        new = os.path.join(out, rel)
        if os.path.exists(live):
            bak = os.path.join(bakroot, rel)
            os.makedirs(os.path.dirname(bak), exist_ok=True)
            os.rename(live, bak)  # old stays recoverable until new lands
        if os.path.exists(new):
            os.makedirs(os.path.dirname(live), exist_ok=True)
            os.rename(new, live)
    shutil.rmtree(bakroot, ignore_errors=True)  # delete backups last
    shutil.rmtree(tmp, ignore_errors=True)


def _recover_partitioned(sink_path: str) -> None:
    """Restore partitions stranded mid-swap by a crashed partitioned
    upsert: any leaf directory under the backup root whose live twin is
    missing moves back; partitions already swapped (live exists) keep the
    new data. Per-partition atomicity means the restored sink mixes old
    and new partitions after a crash, but never a half-written one, and
    replaying the same delta converges."""
    # A crashed run's staging dir is pure garbage (the swap either never
    # started or is being rolled back below) — sweep dead-pid leftovers so
    # crash-looping jobs don't accumulate delta-sized orphans. Live pids'
    # staging is never touched.
    _sweep_staging(sink_path)
    bakroot = sink_path.rstrip("/") + ".upsert_bak_parts"
    if not os.path.isdir(bakroot):
        return
    leaves = [
        dirpath
        for dirpath, dirnames, _ in os.walk(bakroot)
        if dirpath != bakroot and not dirnames
    ]
    for bak in leaves:
        rel = os.path.relpath(bak, bakroot)
        live = os.path.join(sink_path, rel)
        if not os.path.exists(live):
            os.makedirs(os.path.dirname(live), exist_ok=True)
            os.rename(bak, live)
    shutil.rmtree(bakroot, ignore_errors=True)


# Characters Spark/Hive percent-escape in partition directory names
# (ExternalCatalogUtils.escapePathName) — ASCII controls plus these.
_HIVE_ESCAPED = set('"#%\'*/:=?\\\x7f{[]^')


def _hive_part_value(v) -> str:
    """Hive-style directory encoding of a partition value, matching what
    Spark actually writes: None -> the default-partition sentinel,
    booleans lowercase ('p=true', not 'p=True'), timestamps with the
    fraction's trailing zeros trimmed and no dot at micros=0
    ('...00:00:00.5', not '...00:00:00.500000' — probed against Spark's
    own partitionBy output), and reserved characters percent-escaped
    ('03:04' -> '03%3A04'). A plain str(v) misses all of these; the swap
    in _upsert_partitioned pre-validates constructed names against the
    directories Spark actually staged and aborts on any residual
    divergence rather than mis-addressing a partition."""
    import datetime as _dt

    if v is None or v == "":
        # Spark maps empty strings to the same default-partition dir as
        # nulls (probed; it even fails its own write when both values
        # coexist in one batch)
        return "__HIVE_DEFAULT_PARTITION__"
    if v is True or v is False:
        s = "true" if v else "false"
    elif isinstance(v, _dt.datetime):
        s = v.strftime("%Y-%m-%d %H:%M:%S")
        if v.microsecond:
            s += f".{v.microsecond:06d}".rstrip("0")
    elif isinstance(v, float):
        s = _java_double_str(v)
    else:
        s = str(v)
    return "".join(
        f"%{ord(ch):02X}" if (ch in _HIVE_ESCAPED or ord(ch) < 32) else ch
        for ch in s
    )


def _java_double_str(x: float) -> str:
    """Java ``Double.toString`` rendering — what Spark writes in partition
    paths for double values ('1.0E-7', '600000.0', 'NaN'), which diverges
    from Python's repr ('1e-07', 'nan'): decimal notation for
    1e-3 <= |x| < 1e7, otherwise scientific 'd.dddEe' with no '+' and no
    exponent padding. Both languages print the shortest digit string that
    round-trips, so only the framing differs. (FloatType partition
    columns can still diverge — Float.toString uses float32 shortest
    digits — and then the swap's pre-flight aborts loudly rather than
    mis-addressing.)"""
    import math
    from decimal import Decimal

    if math.isnan(x):
        return "NaN"
    if math.isinf(x):
        return "Infinity" if x > 0 else "-Infinity"
    if x == 0.0:
        return "-0.0" if math.copysign(1.0, x) < 0 else "0.0"
    sign = "-" if x < 0 else ""
    d = Decimal(repr(abs(x)))
    digits = "".join(map(str, d.as_tuple().digits)).rstrip("0") or "0"
    adj = d.adjusted()  # exponent of the leading digit
    if -3 <= adj < 7:
        if adj >= 0:
            ip = digits[: adj + 1].ljust(adj + 1, "0")
            fp = digits[adj + 1 :] or "0"
        else:
            ip = "0"
            fp = "0" * (-adj - 1) + digits
        return f"{sign}{ip}.{fp}"
    mantissa = digits[0] + "." + (digits[1:] or "0")
    return f"{sign}{mantissa}E{adj}"


def tick(
    spark: SparkSession, source: DataFrame, mark_col: str, state_path: str, body
) -> int:
    """One cron tick: pull the rows of ``source`` newer than the stored
    mark, run ``body(delta, mark)`` on them, advance the mark. Returns the
    delta's row count; an empty delta returns 0 without running ``body``.

    The delta is pulled once, as an eager ``localCheckpoint`` that
    observes its count and max ``mark_col`` on the way: one Spark job,
    and count, mark and body all read the same rows, however many land
    in the source meanwhile. An observation read after the body's own
    action would be lost whenever AQE prunes the observed stage: on an
    empty delta, and on one whose rows the body filters away before its
    first exchange. ``body`` is a foreachBatch-shaped callable, so the
    same body runs under ``streaming.structured.run_foreach_batch``.
    A timestamp mark is stored in ISO form."""
    wm = Watermark(state_path, spark=spark)
    stats = Observation()
    delta = (
        pull_newer(source, mark_col, wm.read())
        .observe(
            stats, F.count(F.lit(1)).alias("n"), F.max(mark_col).alias("mark")
        )
        .localCheckpoint()
    )
    n, mark = stats.get["n"], stats.get["mark"]
    if n == 0:
        return 0
    if hasattr(mark, "isoformat"):
        mark = mark.isoformat(sep=" ")
    body(delta, mark)
    wm.write(mark)
    return n
