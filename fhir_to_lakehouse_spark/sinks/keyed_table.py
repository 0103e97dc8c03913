"""Keyed mutable table sink: MERGE upsert / MERGE delete semantics.

Reference parity (J1/J2 at /root/reference/src/bundle_processor.py:
256-262 and 287-292): one table per resource type, upsert on PUT
(``whenMatchedUpdateAll + whenNotMatchedInsertAll`` on ``s.id = t.id``),
delete on DELETE (``whenMatchedDelete``), with app-level retry on
concurrent-write conflicts (:240-244).

Two backends behind one API:
- **Delta** (when delta-spark jars are present): real ``DeltaTable
  .merge`` — Delta compiles MERGE to a join, AQE broadcasts the small
  micro-batch side; liquid-clustering/optimize/vacuum supported.
  This is the production path at 100 TB: merge touches only files
  whose min/max id-stats overlap the batch keys (data skipping), not
  the whole table.
- **Parquet fallback** (this container): copy-on-write rewrite —
  new = batch ∪ (existing ⟕anti batch). Correct same semantics;
  rewrite cost is proportional to table size, which is acceptable for
  tests and clearly documented as the non-Delta degradation. A
  rewrite of an existing table writes at most ``max(1, ceil(B /
  split))`` files, B being the on-disk parquet bytes of the table it
  replaces and split Spark's ``spark.sql.files.maxPartitionBytes``:
  the table stays a few split-sized files instead of one small file
  per upstream partition (each zstd file carries a footer of several
  KB, and a lookup opens every file). A first write keeps its batch's
  partitioning. The whole table is still rewritten on every merge;
  rewriting only the key buckets a batch touches is ROADMAP item 4,
  and it pays only once a table is many split-sized files.

Every write in the fallback goes through one directory protocol,
:class:`SwapDir`, which the materialized flat views and
``maintenance create-view --materialize`` publish through as well:
write to ``<path>.tmp-<n>`` then swap directories, so a reader never
sees a half-written table. Reads through it skip parquet schema
inference (a Spark job per ``spark.read.parquet``) while the table on
disk is the one it last wrote or read: every publish records the
schema it wrote under the ``_SUCCESS`` marker's stamp, and a read
whose stamp matches passes that schema to the reader. A table another
writer replaced has a new stamp, so its schema is inferred once and
recorded again.
"""

from __future__ import annotations

import functools
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fhir_to_lakehouse_spark.session import delta_available


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every struct field, array element and map value made
    nullable: the schema Spark's parquet writer stores for a frame of
    type ``dt``, and so what reading the files back infers."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _stamp(os_path: str) -> tuple[int, int] | None:
    """``(st_mtime_ns, st_ino)`` of the ``_SUCCESS`` marker under
    ``os_path``, None when there is none. Every write replaces the
    marker, so a new stamp means a new table; a directory rename keeps
    the stamps of the files inside it."""
    try:
        st = os.stat(os.path.join(os_path, "_SUCCESS"))
    except OSError:
        return None
    return st.st_mtime_ns, st.st_ino


def is_remote(path: str) -> bool:
    """True for a URI with a scheme other than ``file:`` (``s3a://``,
    ``hdfs://``): Spark reaches it through Hadoop, ``os.*`` cannot."""
    return bool(re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:", path)) and not (
        path.startswith("file:")
    )


class SwapDir:
    """A parquet directory at ``path`` replaced whole by copy-on-write.

    :meth:`publish` writes ``<path>.tmp-<n>``, renames the old directory
    to ``<path>.tmp-old-<n>`` and the new one to ``path``, then drops the
    old one: readers see the old or the new table, never a partial
    write. A crash between the two renames leaves ``path`` absent with
    the last complete copy in a ``.tmp-old-*`` sibling, which
    :meth:`recover` (run by :meth:`exists` and :meth:`sweep`) renames
    back, so no committed rows are lost.

    ``recorded`` is ``(stamp, schema)`` of the table as this object last
    wrote or read it; :meth:`read` passes that schema to the reader while
    the ``_SUCCESS`` stamp on disk matches, and runs no inference job."""

    def __init__(self, path: str):
        # swaps and sweeps run through os.*, which needs a plain
        # filesystem path: on a remote URI Spark would stage the write
        # in the store and the rename would then find nothing to move
        if is_remote(path):
            raise ValueError(
                f"{path!r} is not a local path: the copy-on-write swap "
                "renames through the local filesystem"
            )
        self.path = path
        # Spark accepts the URI form unchanged. Hadoop renders local
        # URIs as both file:///p and file:/p: strip either
        self.os_path = path.rstrip("/")
        if path.startswith("file:"):
            self.os_path = "/" + self.os_path.removeprefix("file:").lstrip("/")
        self.recorded: tuple[tuple[int, int], T.StructType] | None = None

    def stamp(self) -> tuple[int, int] | None:
        return _stamp(self.os_path)

    def exists(self) -> bool:
        self.recover()
        return os.path.exists(os.path.join(self.os_path, "_SUCCESS"))

    def recover(self) -> None:
        """Restore the newest complete ``.tmp-old-*`` copy when ``path``
        is missing. Without this, a crash inside :meth:`publish` would
        make the table look absent, and the next write would silently
        discard every pre-existing row."""
        if os.path.exists(self.os_path):
            return
        parent, base = os.path.split(self.os_path)
        if not os.path.isdir(parent):
            return
        stranded = [
            os.path.join(parent, d)
            for d in os.listdir(parent)
            if d.startswith(f"{base}.tmp-old-")
            and os.path.exists(os.path.join(parent, d, "_SUCCESS"))
        ]
        if stranded:
            os.rename(max(stranded, key=os.path.getmtime), self.os_path)

    def read(self, session: SparkSession) -> DataFrame:
        """The table, read through ``session``. With a matching stamp
        the recorded schema is passed to the reader: no inference job.
        Otherwise the schema is inferred (one job) and recorded under
        the stamp taken BEFORE the read, so a table replaced during it
        is inferred again next time instead of trusted."""
        stamp, known = self.stamp(), self.recorded
        if known is not None and known[0] == stamp:
            return session.read.schema(known[1]).parquet(self.path)
        df = session.read.parquet(self.path)
        if stamp is not None:
            self.recorded = (stamp, df.schema)
        return df

    def publish(self, df: DataFrame) -> None:
        """Write ``df`` as the new table and swap it in. If the swap-in
        rename fails, the old table is renamed straight back and the
        staged copy dropped before the error propagates."""
        suffix = f".tmp-{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").parquet(f"{self.path.rstrip('/')}{suffix}")
        tmp = f"{self.os_path}{suffix}"
        # stamped before the swap: the renames keep it, and a table
        # another writer swaps in after ours never carries it
        stamp = _stamp(tmp)
        old = None
        if os.path.exists(self.os_path):
            old = f"{self.os_path}.tmp-old-{uuid.uuid4().hex[:8]}"
            os.rename(self.os_path, old)
        try:
            os.rename(tmp, self.os_path)
        except BaseException:
            if old is not None:
                os.rename(old, self.os_path)
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        if old is not None:
            shutil.rmtree(old, ignore_errors=True)
        # the parquet writer stores every field nullable
        self.recorded = None if stamp is None else (stamp, _nullable(df.schema))

    def files(self) -> tuple[int, int]:
        """Number and total bytes of the table's parquet files on disk;
        (0, 0) when there is no table directory."""
        try:
            with os.scandir(self.os_path) as entries:
                sizes = [
                    e.stat().st_size for e in entries if e.name.endswith(".parquet")
                ]
        except OSError:
            return 0, 0
        return len(sizes), sum(sizes)

    def sweep(self, retention_hours: float) -> None:
        """Remove ``.tmp-*`` leftovers older than ``retention_hours``,
        after :meth:`recover`: while ``path`` is missing, the newest
        ``.tmp-old-*`` sibling IS the table, not garbage."""
        self.recover()
        parent, base = os.path.split(self.os_path)
        if not os.path.isdir(parent):
            return
        cutoff = time.time() - retention_hours * 3600
        for d in os.listdir(parent):
            full = os.path.join(parent, d)
            if d.startswith(f"{base}.tmp-") and os.path.getmtime(full) < cutoff:
                shutil.rmtree(full, ignore_errors=True)


# Delta's default deletedFileRetentionDuration: 1 week
RETENTION_FLOOR_HOURS = 168.0


def check_retention(retention_hours: float, enforce: bool) -> None:
    """The reference lakehousekeeper guard (its
    lakehousekeeper.py:121-127, Delta's retentionDurationCheck): with
    ``enforce`` on, a retention below the 1-week floor is rejected.
    Vacuuming a window shorter than the longest-running reader
    permanently breaks its snapshot."""
    if enforce and retention_hours < RETENTION_FLOOR_HOURS:
        raise ValueError(
            f"retention {retention_hours} h is below the "
            f"{RETENTION_FLOOR_HOURS} h retention floor; pass "
            "enforce_retention_duration=False (CLI: "
            "--no-enforce-retention-duration) to override"
        )


class DuplicateKeySourceError(ValueError):
    """Source of a merge has multiple rows per key. Delta MERGE raises
    when several source rows match one target row; the fallback raises
    up front for ANY duplicated key so both backends reject ambiguous
    sources instead of silently keeping both rows (strictly stronger:
    Delta tolerates duplicate keys that match no target row and inserts
    both — rows the next merge would then fail on)."""


def _non_retryable(exc: Exception) -> bool:
    """Deterministic failures that retrying cannot fix — re-running an
    AnalysisException (missing column/table, type mismatch) or a
    validation error 5x with sleeps only delays the real traceback.
    Everything else (Delta concurrent-commit conflicts, transient IO)
    stays retryable, like the reference's tenacity policy."""
    try:
        from pyspark.errors import AnalysisException, IllegalArgumentException

        if isinstance(exc, (AnalysisException, IllegalArgumentException)):
            return True
    except ImportError:
        pass
    return isinstance(exc, (ValueError, TypeError))


def retry(attempts: int = 5, base_s: float = 0.05, cap_s: float = 30.0):
    """Exponential-backoff retry — thin replacement for the reference's
    tenacity decorators (/root/reference/src/bundle_processor.py:240-244,
    backoff 5-30 s, 5 attempts; shorter base locally). Deterministic
    errors (analysis/validation) are raised immediately."""

    def deco(fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            delay = base_s
            for i in range(attempts):
                try:
                    return fn(*args, **kwargs)
                except Exception as exc:
                    if i == attempts - 1 or _non_retryable(exc):
                        raise
                    time.sleep(min(delay, cap_s))
                    delay *= 2

        return wrapper

    return deco


class KeyedTable:
    """A mutable table keyed on ``key`` at ``path``.

    The parquet fallback assumes one writer per path. A write by
    another writer (another instance or process) between two calls on
    this one is detected by the ``_SUCCESS`` stamp: this instance then
    infers the table's schema again and does not take its empty-table
    fast path. A write by another writer that lands inside one call,
    between its stamp check and its swap, is not detected, and one of
    the two writes is lost."""

    # reference delta.* table-property defaults (settings.py:43-49,
    # applied at create: bundle_processor.py:172-196)
    DEFAULT_TABLE_PROPERTIES = {
        "delta.autoOptimize.autoCompact": "false",
        "delta.autoOptimize.optimizeWrite": "false",
        "delta.checkpointInterval": "100",
        "delta.checkpoint.writeStatsAsJson": "false",
        "delta.checkpoint.writeStatsAsStruct": "true",
    }

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key: str = "id",
        changelog: bool = False,
        verify_unique_source: bool = True,
        table_properties: dict[str, str] | None = None,
    ):
        self.spark = spark
        self.path = path
        self.key = key
        self._delta = delta_available() and not os.environ.get("FORCE_PARQUET_SINK")
        # other schemes (s3a://) have no parquet fallback: without Delta,
        # exists() would os.path.exists("s3a://...") == False forever —
        # merge_delete no-ops and every merge rewrites an "initial"
        # table. Fail construction instead of corrupting silently.
        if not self._delta and is_remote(path):
            raise ValueError(
                f"KeyedTable parquet fallback only supports local paths; "
                f"{path!r} needs the Delta backend (delta-spark on the "
                f"classpath)"
            )
        # the fallback's table directory; a Delta table has none
        self._dir = None if self._delta else SwapDir(path)
        # fallback merge guard: reject duplicate-key sources like Delta
        # MERGE would. Callers that provably dedup first (the pipeline's
        # latest_per_key) may disable to skip the probe job.
        self.verify_unique_source = verify_unique_source
        # Change Data Feed analog (delta.enableChangeDataFeed): every
        # merge also appends its row-level changes (_change_type +
        # commit_version) to <path>.changelog for incremental consumers
        self.changelog = changelog
        # stamp of the ZERO-ROW table create_if_not_exists wrote: while
        # it is the one on disk, the next merge_upsert takes the
        # initial-write fast path instead of reading the empty table
        # back through the full anti-join/union machinery (a first
        # batch on a fresh warehouse pays that per resource type)
        self._empty_stamp: tuple[int, int] | None = None
        self.table_properties = (
            dict(table_properties)
            if table_properties is not None
            else dict(self.DEFAULT_TABLE_PROPERTIES)
        )

    # -- existence / read ------------------------------------------------

    def _fresh_empty(self) -> bool:
        """True only while the zero-row table THIS instance created is
        still what's on disk: another KeyedTable instance (or process)
        writing to the same path after our create_if_not_exists would
        otherwise be silently clobbered by the fast-path _swap_write;
        its write gives the table a new stamp."""
        return self._empty_stamp is not None and self._empty_stamp == self._dir.stamp()

    def exists(self) -> bool:
        if self._delta:
            from delta.tables import DeltaTable

            return DeltaTable.isDeltaTable(self.spark, self.path)
        return self._dir.exists()

    def to_df(self) -> DataFrame:
        """Read back (reference S8: DeltaTable.forPath(...).toDF())."""
        if self._delta:
            from delta.tables import DeltaTable

            return DeltaTable.forPath(self.spark, self.path).toDF()
        return self._dir.read(self.spark)

    # -- DDL -------------------------------------------------------------

    def create_if_not_exists(
        self, schema, cluster_by: list[str] | None = None
    ) -> None:
        """Idempotent create with table properties + optional liquid
        clustering (reference S6,
        /root/reference/src/bundle_processor.py:172-204)."""
        if self._delta:
            from delta.tables import DeltaTable

            builder = (
                DeltaTable.createIfNotExists(self.spark)
                .location(self.path)
                .addColumns(schema)
            )
            # property set + values from settings, reference defaults
            # (bundle_processor.py:172-196 / settings.py:43-49)
            for k, v in self.table_properties.items():
                builder = builder.property(k, v)
            if cluster_by:
                builder = builder.clusterBy(*cluster_by)
            builder.execute()
        elif not self.exists():
            # repartition(1): an empty frame otherwise inherits
            # default-parallelism partitions and the commit protocol
            # pays per-task setup for dozens of empty writers (~2 s on
            # local[32] for a zero-row table; one task is ~0.4 s)
            self._dir.publish(self.spark.createDataFrame([], schema).repartition(1))
            # the stamp publish took before its renames: a table another
            # writer swaps in after ours never carries it
            recorded = self._dir.recorded
            self._empty_stamp = recorded[0] if recorded else None

    # -- MERGE -----------------------------------------------------------

    def _check_unique_source(self, src: DataFrame) -> None:
        if not self.verify_unique_source:
            return
        dup = (
            src.groupBy(self.key)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise DuplicateKeySourceError(
                f"merge source has multiple rows for key "
                f"{self.key}={dup[0][self.key]!r}; dedup the source "
                f"(e.g. latest_per_key) before merging"
            )

    @retry()
    def merge_upsert(self, src: DataFrame) -> None:
        """J1: upsert rows of ``src`` by key (latest batch row wins)."""
        if self._delta:
            from delta.tables import DeltaTable

            # Delta path: CDF comes from delta.enableChangeDataFeed +
            # table_changes(), not from this class
            (
                DeltaTable.forPath(self.spark, self.path)
                .alias("t")
                .merge(src.alias("s"), f"s.{self.key} = t.{self.key}")
                .whenMatchedUpdateAll()
                .whenNotMatchedInsertAll()
                .execute()
            )
            return
        self._check_unique_source(src)
        if not self.exists() or self._fresh_empty():
            # initial write (or the table was just created EMPTY by
            # create_if_not_exists): merging into zero rows is the
            # source itself — skip reading the empty table back and
            # the anti-join/union pass
            if self.changelog:
                self._append_changes(src.withColumn("_change_type", F.lit("insert")))
            self._swap_write(src)
            return
        # Read the existing table through the SOURCE frame's session,
        # not self.spark: inside a streaming foreachBatch the batch df
        # belongs to the stream's CLONED session, and a merge plan
        # rooted on a self.spark read would execute under the original
        # session's UUID — so a listener registered on the clone (an
        # Observation on the source, say) never sees the completion
        # event and Observation.get blocks forever (reproduced:
        # test_recovery_processes_only_new_data_after_commit hung on
        # the first post-create merge). Executing the whole merge in
        # the caller's session is also simply correct — its confs are
        # the ones in force for this batch.
        existing = self._dir.read(src.sparkSession)
        if self.changelog:
            matched_keys = src.select(self.key).distinct()
            pre = existing.join(matched_keys, on=self.key, how="left_semi")
            post = src.join(
                existing.select(self.key).distinct(), on=self.key, how="left_semi"
            )
            ins = src.join(existing.select(self.key), on=self.key, how="left_anti")
            self._append_changes(
                pre.withColumn("_change_type", F.lit("update_preimage"))
                .unionByName(
                    post.withColumn("_change_type", F.lit("update_postimage")),
                    allowMissingColumns=True,
                )
                .unionByName(
                    ins.withColumn("_change_type", F.lit("insert")),
                    allowMissingColumns=True,
                )
            )
        keep = existing.join(
            src.select(self.key), on=self.key, how="left_anti"
        )
        self._swap_write(keep.unionByName(src, allowMissingColumns=True))

    @retry()
    def merge_delete(self, ids: DataFrame, id_col: str | None = None) -> None:
        """J2: delete rows whose key appears in ``ids`` (semi-join-shaped
        merge, reference /root/reference/src/bundle_processor.py:287-292).
        """
        id_col = id_col or self.key
        if self._delta:
            from delta.tables import DeltaTable

            (
                DeltaTable.forPath(self.spark, self.path)
                .alias("t")
                .merge(ids.alias("s"), f"s.{id_col} = t.{self.key}")
                .whenMatchedDelete()
                .execute()
            )
            return
        if not self.exists():
            return
        # the ids' session, like merge_upsert's read of the table
        existing = self._dir.read(ids.sparkSession)
        if self.changelog:
            deleted = existing.join(
                ids.select(F.col(id_col).alias(self.key)),
                on=self.key,
                how="left_semi",
            )
            self._append_changes(
                deleted.withColumn("_change_type", F.lit("delete"))
            )
        keep = existing.join(
            ids.select(F.col(id_col).alias(self.key)),
            on=self.key,
            how="left_anti",
        )
        self._swap_write(keep)

    @retry()
    def merge_scd2(
        self, batch: DataFrame, ts_col: str, tracked: list[str]
    ) -> None:
        """History-keeping upsert (SCD Type 2): closes the previous
        version of each changed key and inserts the new one, instead of
        updating in place like :meth:`merge_upsert`. See operators/scd.py
        for semantics. On Delta this would be two data-skipping MERGEs
        (close + insert); the fallback rewrites via the same atomic swap.
        """
        from fhir_to_lakehouse_spark.operators.scd import apply_scd2

        existing = self.to_df() if self.exists() else None
        self._swap_write(
            apply_scd2(existing, batch, self.key, ts_col, tracked)
        )

    # -- maintenance (reference S13/S14, lakehousekeeper parity) ---------

    def optimize(
        self,
        target_files: int | None = None,
        zorder_by: list[str] | None = None,
    ) -> None:
        """Compaction: Delta OPTIMIZE (plain or ZORDER BY), or a
        rewrite in the parquet fallback (reference
        /root/reference/src/bundle_processor.py:310).

        Without ``zorder_by`` the fallback is compaction only: it
        rewrites a table with more files than ``target_files`` (default:
        the file-count target of :meth:`_target_files`) into that many
        key-sorted files, and leaves any other table as it is — one
        directory listing, no Spark job. A table that another writer
        left compact but unsorted stays unsorted; every rewrite through
        this class sorts by key.

        With ``zorder_by``, the fallback performs the real OPTIMIZE
        ZORDER BY layout change: numeric dimensions are normalized to
        bucket ordinals against their observed min/max (one aggregate
        pass -> a handful of driver scalars), interleaved into a
        Morton key (functions/layout.py — pure Catalyst bit
        expressions), and the table is range-partitioned + sorted by
        that key so per-file min/max statistics tighten in ALL z-order
        dimensions (the point of Z-ordering: multi-dimensional range
        predicates prune files). The write preserves the z-layout
        (presorted=True skips the default key sort)."""
        if self._delta:
            from delta.tables import DeltaTable

            opt = DeltaTable.forPath(self.spark, self.path).optimize()
            if zorder_by:
                opt.executeZOrderBy(*zorder_by)
            else:
                opt.executeCompaction()
            return
        if not self.exists():
            return
        if zorder_by:
            df = self.to_df()
            zkey = self._zorder_expr(df, zorder_by)
            df = df.repartitionByRange(
                target_files or 1, zkey
            ).sortWithinPartitions(zkey)
        else:
            n_files, n_bytes = self._dir.files()
            target = target_files or self._target_files(self.spark, n_bytes)
            if n_files <= target:
                return
            # the input is a plain scan: coalescing it leaves no
            # encode or join to run in fewer tasks
            df = self.to_df().coalesce(target)
            if self.key in df.columns:
                df = df.sortWithinPartitions(self.key)
        self._swap_write(df, presorted=True)

    def _zorder_expr(self, df: DataFrame, cols: list[str]):
        """Morton key over min/max-normalized numeric columns; string
        columns are rejected (rank-based bucketing — what Delta does
        via range ids — needs a sampling pass; numeric covers the
        clustering keys this engine uses)."""
        from fhir_to_lakehouse_spark.functions.layout import morton_key

        numeric = {"int", "bigint", "smallint", "tinyint", "double", "float",
                   "date", "timestamp", "timestamp_ntz"}
        for c in cols:
            base = dict(df.dtypes)[c].split("(")[0]
            if base not in numeric and not base.startswith("decimal"):
                raise ValueError(
                    f"zorder_by column {c!r} has non-numeric type "
                    f"{dict(df.dtypes)[c]!r}; only numeric/temporal "
                    "dimensions are supported in the parquet fallback"
                )
        bits = min(16, 62 // max(len(cols), 1))
        aggs = []
        for i, c in enumerate(cols):
            cd = F.col(c).cast("double")
            aggs += [F.min(cd).alias(f"mn{i}"), F.max(cd).alias(f"mx{i}")]
        row = df.agg(*aggs).collect()[0]
        ordinals = []
        for i, c in enumerate(cols):
            mn, mx = row[f"mn{i}"], row[f"mx{i}"]
            span = (mx - mn) if (mx is not None and mn is not None and mx > mn) else 1.0
            ordinals.append(
                F.least(
                    F.lit(2**bits - 1),
                    F.floor(
                        (F.coalesce(F.col(c).cast("double"), F.lit(mn or 0.0)) - F.lit(mn or 0.0))
                        / F.lit(span)
                        * F.lit(2**bits - 1)
                    ),
                ).cast("long")
            )
        return morton_key(ordinals, bits)

    def vacuum(
        self,
        retention_hours: float = 24.0,
        enforce_retention_duration: bool = False,
    ) -> None:
        """Remove unreferenced files (reference
        /root/reference/src/bundle_processor.py:321). Fallback: clear
        leftover tmp dirs older than retention.

        ``enforce_retention_duration`` applies :func:`check_retention`.
        Default off here because the reference app itself disables the
        check session-wide (src/main.py:71); the maintenance CLI turns
        it on by default like the reference CLI.
        """
        check_retention(retention_hours, enforce_retention_duration)
        if self._delta:
            from delta.tables import DeltaTable

            DeltaTable.forPath(self.spark, self.path).vacuum(retention_hours)
            return
        self._dir.sweep(retention_hours)

    def detail(self) -> dict:
        """Table metadata (reference S15 delta_table.detail())."""
        if self._delta:
            import json

            from delta.tables import DeltaTable

            # parse: toJSON().collect() yields a JSON *string*; the
            # fallback branch returns a dict — both backends must agree
            # on the return type (caught by the Delta API double test)
            return json.loads(
                DeltaTable.forPath(self.spark, self.path)
                .detail()
                .toJSON()
                .collect()[0]
            )
        n_files = self._dir.files()[0] if self.exists() else 0
        return {"location": self.path, "numFiles": n_files, "format": "parquet"}

    # -- change data feed (fallback analog of Delta CDF) -----------------

    @property
    def _changelog_path(self) -> str:
        return f"{self.path.rstrip('/')}.changelog"

    def changelog_version(self) -> int:
        """Latest committed change version, -1 if none. The Delta
        backend writes no change log of its own (its CDF is Delta's)."""
        if self._dir is None:
            return -1
        base = f"{self._dir.os_path}.changelog"
        if not os.path.isdir(base):
            return -1
        versions = [
            int(d.split("=", 1)[1])
            for d in os.listdir(base)
            if d.startswith("commit_version=")
        ]
        return max(versions, default=-1)

    def table_changes(self, starting_version: int = 0) -> DataFrame:
        """Row-level changes since ``starting_version`` (inclusive) —
        the ``table_changes('t', n)`` TVF analog. Each row carries
        ``_change_type`` (insert | update_preimage | update_postimage |
        delete) and the partition column ``commit_version``, so an
        incremental consumer reads only the new version directories
        (partition pruning on commit_version).

        mergeSchema is ON: the changelog is append-only, so commits
        written before a schema widening (an encoder-catalog upgrade
        adding nested fields) carry the OLD file schema — without
        merging, Spark samples one file's schema and silently DROPS
        the new fields from every post-image, corrupting as_of
        reconstruction and incremental view refresh (regression:
        tests/test_changelog.py::test_change_feed_survives_schema_widening)."""
        df = (
            self.spark.read.option("basePath", self._changelog_path)
            .option("mergeSchema", "true")
            .parquet(self._changelog_path)
        )
        return df.filter(F.col("commit_version") >= starting_version)

    def latest_changes(self, since: int = 0, until: int | None = None) -> DataFrame:
        """The change feed folded to one row per key: the key's latest
        change among commits ``since``..``until`` (inclusive; None is
        the newest), pre-images excluded — its post-image with
        ``_change_type`` (insert, update_postimage or delete), without
        ``commit_version``. One hot-key-safe aggregate (max_by
        commit_version per key, the W1 dedup shape) over the pruned
        changelog partitions: O(changed rows) regardless of table size.
        """
        ch = self.table_changes(since).filter(
            F.col("_change_type") != "update_preimage"
        )
        if until is not None:
            ch = ch.filter(F.col("commit_version") <= until)
        cols = [c for c in ch.columns if c != "commit_version"]
        return (
            ch.groupBy(self.key)
            .agg(F.max_by(F.struct(*cols), F.col("commit_version")).alias("w"))
            .select("w.*")
        )

    def upserted_since(self, starting_version: int) -> DataFrame:
        """Incremental read off the change feed: the latest post-image
        of every key whose most recent change AT OR AFTER
        ``starting_version`` is not a delete — the Bulk Data `_since`
        export primitive. Keys created-then-deleted inside the window
        surface as nothing, matching what a full re-export would show.
        """
        latest = self.latest_changes(since=starting_version)
        return latest.filter(F.col("_change_type") != "delete").drop("_change_type")

    def as_of(self, version: int) -> DataFrame:
        """Time-travel read: the table state as of changelog commit
        ``version`` (inclusive) — the ``VERSION AS OF`` analog: the
        change feed up to ``version`` folded by :meth:`latest_changes`,
        deletes dropped. Requires ``changelog=True``."""
        if not self.changelog:
            raise ValueError("as_of requires changelog=True on this table")
        latest = self.latest_changes(until=version)
        return latest.filter(F.col("_change_type") != "delete").drop("_change_type")

    def restore_to(self, version: int) -> None:
        """``RESTORE TABLE ... TO VERSION`` analog: rewrite the table to
        its :meth:`as_of` state. Like Delta's RESTORE, the restore is
        itself a NEW commit — the diff (current vs target) is appended
        to the change feed, so history is preserved, never rewritten,
        and incremental consumers see the restore as ordinary changes."""
        target = self.as_of(version).persist()
        target.count()  # snapshot BEFORE the swap invalidates to_df()
        current = self.to_df()
        key = self.key
        dels = current.join(target.select(key), key, "left_anti").withColumn(
            "_change_type", F.lit("delete")
        )
        ins = target.join(current.select(key), key, "left_anti").withColumn(
            "_change_type", F.lit("insert")
        )
        cur_k = current.select(
            F.col(key), F.struct(*current.columns).alias("_cur")
        )
        tgt_k = target.select(F.col(key).alias("_k"), F.struct(*target.columns).alias("_tgt"))
        changed = cur_k.join(tgt_k, cur_k[key] == tgt_k["_k"]).filter(
            F.col("_cur") != F.col("_tgt")
        )
        pre = changed.select("_cur.*").withColumn(
            "_change_type", F.lit("update_preimage")
        )
        post = changed.select("_tgt.*").withColumn(
            "_change_type", F.lit("update_postimage")
        )
        diff = (
            dels.unionByName(ins, allowMissingColumns=True)
            .unionByName(pre, allowMissingColumns=True)
            .unionByName(post, allowMissingColumns=True)
        )
        self._append_changes(diff)
        self._swap_write(target)
        target.unpersist()

    def _append_changes(self, changes: DataFrame) -> None:
        """Materialize one commit's changes under a new
        commit_version=N directory. Must run BEFORE the table swap:
        the change rows are computed against the pre-merge state."""
        version = self.changelog_version() + 1
        changes.write.mode("errorifexists").parquet(
            f"{self._changelog_path}/commit_version={version}"
        )

    # -- internals -------------------------------------------------------

    @staticmethod
    def _target_files(spark: SparkSession, n_bytes: int) -> int:
        """File-count target for ``n_bytes`` of parquet:
        ``max(1, ceil(n_bytes / split))``, split being Spark's own read
        split size, ``spark.sql.files.maxPartitionBytes``."""
        split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        return max(1, -(-n_bytes // split))

    def _right_size(self, df: DataFrame, n_bytes: int) -> DataFrame:
        """``df`` in :meth:`_target_files` partitions for a rewrite of a
        table of ``n_bytes``. At or below
        ``spark.sql.files.openCostInBytes`` (4 MB by default), what
        Spark's scan planning charges for opening one file, a second
        task costs more than it saves: the plan is coalesced, which
        adds no job, and the batch's encode runs in those tasks too.
        Above it, the plan is hashed by key into that many partitions,
        a shuffle (one more job) that keeps the scan, join and encode
        above it parallel."""
        conf = df.sparkSession._jsparkSession.sessionState().conf()
        n = self._target_files(df.sparkSession, n_bytes)
        if n_bytes <= conf.filesOpenCostInBytes():
            return df.coalesce(n)
        if self.key in df.columns:
            return df.repartition(n, self.key)
        return df.repartition(n)

    def _swap_write(self, df: DataFrame, presorted: bool = False) -> None:
        """Copy-on-write rewrite, published by :meth:`SwapDir.publish`.

        Unless the caller lays the files out itself (``presorted``),
        each file is sorted by key, and a rewrite of an existing table
        writes at most ``max(1, ceil(B / split))`` files
        (:meth:`_right_size`), B being the on-disk bytes of the table
        it replaces. A first write (no table, or the empty one this
        instance's create_if_not_exists wrote) keeps its source's
        partitioning: its size is the batch's, which B says nothing
        about. The whole table is still rewritten; bucketed partial
        rewrite is ROADMAP item 4."""
        if not presorted:
            n_files, n_bytes = self._dir.files()
            if n_files and not self._fresh_empty():  # not a first write
                df = self._right_size(df, n_bytes)
            if self.key in df.columns:
                # sorted by key within each file: tight min/max statistics
                # (and row groups) INSIDE a file. Plain parquet has no
                # file-level key index, so a point lookup still opens every
                # file of the table; only Delta's data skipping prunes files
                df = df.sortWithinPartitions(self.key)
        self._dir.publish(df)
        self._empty_stamp = None
