"""Iceberg-style lake table: bucketed copy-on-write MERGE with snapshot
manifests, idempotent commits, schema evolution, tombstoned deletes.

The sandbox ships no Iceberg runtime jar, so the table format is
implemented directly on parquet + JSON manifests with the same contract
(SURVEY.md §7 step 4 "HadoopMergeSink"):

* ``data/s<snapshot>-<attempt>/bucket=<b>/*.parquet`` — immutable data
  files; every commit attempt writes a fresh directory (``<attempt>`` is
  a uuid4), so no writer ever writes over a committed snapshot's files
* ``_meta/snapshot-<n>.json`` — manifest: schema versions, rename chain,
  bucket → file list, committed batch id, parent snapshot
* ``_meta/HEAD`` — current snapshot pointer, committed by atomic rename
  (write-audit-publish: data + manifest are fully written and fsynced
  before HEAD moves). Every commit goes through ``LakeTable._commit``. A
  crash before the rename, or a commit refused because another writer
  moved HEAD first, leaves the old snapshot live; the attempt's orphaned
  data files are reclaimed by ``expire_snapshots``

Scale design
------------
Rows are hash-bucketed on the merge key (``pmod(xxhash64(url), B)``). A
MERGE only reads + rewrites the buckets the batch touches — at 10^10 rows
with B=4096, a batch touching 5% of key-space rewrites 5% of files, not
the table. Dedup inside the merge is the map-side-combining ``max_by``
aggregate (see ``dedup.py``), so hot-url skew collapses before the
shuffle. Deletes are kept as tombstone rows (``_op = 'D'``) and filtered
on read, which makes replay **order-insensitive**: the final state equals
last-writer-wins over every event ever merged, no matter how late an
update arrives — the exactly-once story needs only idempotent-by-batch-id
commits, not ordering.
"""

from __future__ import annotations

import json
import uuid
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import EngineError
from ..fsio import io_for
from .dedup import last_writer_wins, salted_last_writer_wins

OP_COL = "_op"
# per-key event count the merge's LWW aggregate carries up to its
# Observation (dropped before anything is written)
_KEY_EVENTS = "_key_events"


def _bucket(key: str, n: int):
    """The bucket transform: rows of one key always land in one bucket."""
    return F.pmod(F.xxhash64(F.col(key)), F.lit(n)).cast("int")


class MergeResult:
    """What one ``merge`` did. ``rows_in`` is the batch's event count;
    ``winners`` the batch's distinct keys and ``tombstones`` those of
    them whose resolved op is 'D' — under ``"cow"`` and ``"delta"``
    alike (the rows a cow rewrite carries over unchanged from the
    touched buckets are not counted)."""

    def __init__(self, batch_id: int, snapshot_id: int, skipped: bool,
                 rows_in: int = 0, winners: int = 0, tombstones: int = 0,
                 buckets_touched: int = 0,
                 top_key_events: int | None = None):
        self.batch_id = batch_id
        self.snapshot_id = snapshot_id
        self.skipped = skipped
        self.rows_in = rows_in
        self.winners = winners
        self.tombstones = tombstones
        self.buckets_touched = buckets_touched
        # events of the batch's most frequent key (None: not observed —
        # a skipped or empty merge, or a sink that does not report it);
        # CDCPipeline's n_salts="auto" salts the next batch on
        # top_key_events / rows_in
        self.top_key_events = top_key_events

    def __repr__(self) -> str:  # pragma: no cover
        return ("MergeResult(batch=%d snap=%d skipped=%s in=%d winners=%d "
                "tombstones=%d buckets=%d)"
                % (self.batch_id, self.snapshot_id, self.skipped,
                   self.rows_in, self.winners, self.tombstones,
                   self.buckets_touched))


class LakeTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        # metadata IO routes through the filesystem the path's scheme
        # names (hdfs://, s3a://, file:/ → Hadoop FileSystem API; plain
        # paths → os level), keeping the atomic-rename commit contract
        # on either (fsio module docstring; VERDICT r4 item 2)
        self._io = io_for(spark, path)
        self.meta_dir = self._io.join(path, "_meta")

    # -- creation / manifest ------------------------------------------------

    @classmethod
    def create(cls, spark: SparkSession, path: str, schema: T.StructType,
               key: str = "url", order: tuple = ("warc_ts", "seq"),
               num_buckets: int = 64) -> "LakeTable":
        t = cls(spark, path)
        t._io.mkdirs(t.meta_dir)
        manifest = {
            "snapshot_id": 0,
            "batch_id": 0,
            "key": key,
            "order": list(order),
            "num_buckets": num_buckets,
            "schema_id": 0,
            "schemas": {"0": json.loads(schema.json())},
            "renames": {},
            "buckets": {},
            "parent": None,
        }
        t._write_manifest(manifest)
        t._commit_head(0)
        return t

    @classmethod
    def exists(cls, spark: SparkSession, path: str) -> bool:
        io = io_for(spark, path)
        return io.exists(io.join(path, "_meta", "HEAD"))

    def _write_manifest(self, manifest: dict) -> None:
        p = self._io.join(self.meta_dir,
                          "snapshot-%08d.json" % manifest["snapshot_id"])
        self._io.write_atomic(p, json.dumps(manifest).encode())

    def _check_head(self, expected_parent: int) -> None:
        head_file = self._io.join(self.meta_dir, "HEAD")
        if self._io.exists(head_file):
            current = int(self._io.read_text(head_file).strip())
            if current != expected_parent:
                raise EngineError(
                    "concurrent commit detected: HEAD moved to snapshot "
                    "%d while this commit was derived from %d — retry "
                    "from the new table state" % (current, expected_parent))

    def _commit_head(self, snapshot_id: int,
                     expected_parent: int | None = None) -> None:
        """Move HEAD. With ``expected_parent``, refuse when another
        writer advanced HEAD since this commit's manifest was derived.
        ``_commit`` makes the same check before it writes its manifest,
        so a writer working from a stale HEAD is refused before it can
        overwrite the committed ``snapshot-<n>.json`` (its data files
        already sit in a directory of their own), and the committed
        snapshot stays intact. Best-effort optimistic concurrency: the
        check-then-rename window is not atomic on a plain filesystem;
        Iceberg closes it with a catalog CAS, which the IcebergSink path
        inherits. The engine's single-writer pipelines never trip this;
        it guards operator error (two pipelines pointed at one lake)."""
        if expected_parent is not None:
            self._check_head(expected_parent)
        self._io.write_atomic(self._io.join(self.meta_dir, "HEAD"),
                              str(snapshot_id).encode())

    def _commit(self, m: dict, **changes) -> int:
        """Commit the snapshot after ``m``, the manifest this commit was
        derived from, with ``changes`` applied; returns its id. The one
        commit path of the table: check HEAD, write the manifest (parent
        link to ``m``), then move HEAD under the same check."""
        snap = m["snapshot_id"] + 1
        self._check_head(m["snapshot_id"])
        self._write_manifest({**m, **changes, "snapshot_id": snap,
                              "parent": m["snapshot_id"]})
        self._commit_head(snap, expected_parent=m["snapshot_id"])
        return snap

    def _write_buckets(self, df: DataFrame, m: dict, n_parts: int) -> dict:
        """Write ``df`` (with a ``bucket`` column) as the data files of
        one commit attempt on top of ``m``; returns bucket → manifest
        entries of the files written. The attempt's directory is fresh,
        so a refused or crashed attempt leaves orphans, never a
        half-overwritten committed snapshot."""
        out_dir = self._io.join(self.path, "data/s%08d-%s" % (
            m["snapshot_id"] + 1, uuid.uuid4().hex))
        (df.repartition(n_parts, "bucket")
         .write.partitionBy("bucket").parquet(out_dir))
        return {
            self._io.basename(d).split("=", 1)[1]: [
                {"path": self._io.relpath(p, self.path),
                 "schema_id": m["schema_id"]}
                for p in self._io.glob(self._io.join(d, "*.parquet"))]
            for d in self._io.glob(self._io.join(out_dir, "bucket=*"))}

    def head(self) -> dict:
        snap = int(self._io.read_text(
            self._io.join(self.meta_dir, "HEAD")).strip())
        return json.loads(self._io.read_text(
            self._io.join(self.meta_dir, "snapshot-%08d.json" % snap)))

    @property
    def committed_batch_id(self) -> int:
        return self.head()["batch_id"]

    def schema(self, manifest: dict | None = None) -> T.StructType:
        m = manifest or self.head()
        return T.StructType.fromJson(m["schemas"][str(m["schema_id"])])

    # -- schema evolution ----------------------------------------------------

    def evolve(self, new_schema: T.StructType,
               renames: dict | None = None) -> int:
        """Metadata-only schema change (SURVEY.md §7 step 6) — the analog
        of Iceberg ALTER TABLE ADD/DROP/RENAME COLUMN. ``renames`` maps
        old column name → new column name; added columns read as NULL from
        old files; dropped columns are projected away."""
        m = self.head()
        new_id = str(m["schema_id"] + 1)
        return self._commit(
            m, schema_id=m["schema_id"] + 1,
            schemas={**m["schemas"], new_id: json.loads(new_schema.json())},
            renames={**m["renames"],
                     **({new_id: dict(renames)} if renames else {})})

    def _align(self, df: DataFrame, from_schema_id: int,
               manifest: dict) -> DataFrame:
        """Project a file written under an older schema version to the
        current one: apply the rename chain, null-fill added columns,
        drop removed ones."""
        cur_id = manifest["schema_id"]
        for v in range(from_schema_id + 1, cur_id + 1):
            for old, new in manifest["renames"].get(str(v), {}).items():
                if old in df.columns:
                    df = df.withColumnRenamed(old, new)
        target = self.schema(manifest)
        cols = []
        have = set(df.columns)
        for f in target.fields:
            if f.name in have:
                cols.append(F.col(f.name))
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        if OP_COL in have:
            cols.append(F.col(OP_COL))
        return df.select(*cols)

    def rebucket(self, new_num_buckets: int) -> int:
        """Re-bucketing snapshot: rewrite the current table state under a
        new bucket count and commit it as a new snapshot (the analog of
        Iceberg's REWRITE DATA with a changed bucket-transform width).

        Why this exists at 100 TB: a MERGE rewrites every file of every
        touched bucket (copy-on-write), so per-batch write amplification
        is bounded by (touched buckets) × (table size / num_buckets). A
        table created small (say 16 buckets) and grown 1000× would
        rewrite ~1/16 of 100 TB per hot batch; raising the bucket count
        to O(10³-10⁴) shrinks the rewrite unit proportionally. The
        rewrite itself is one full-table pass — schedule it like a
        compaction. Tombstones are carried over (replay order-insensitivity
        must survive re-bucketing), and the committed batch id is
        preserved so exactly-once resume is unaffected."""
        m = self.head()
        if new_num_buckets == m["num_buckets"]:
            return m["snapshot_id"]
        df = self._state_resolved(m).withColumn(
            "bucket", _bucket(m["key"], new_num_buckets))
        return self._commit(
            m, num_buckets=new_num_buckets,
            buckets=self._write_buckets(df, m, new_num_buckets))

    # -- read ----------------------------------------------------------------

    def _read_buckets(self, manifest: dict, buckets,
                      align_to: dict | None = None) -> DataFrame | None:
        """The files of the selected buckets, aligned to ``align_to``
        (default: ``manifest``); None when no file is selected. Each
        group of files is read under the schema version it was written
        with (plus the tombstone flag) — parquet schema inference would
        cost a Spark job per group — and a column a batch lacked reads
        as NULL, as ``_align`` fills it."""
        target = align_to or manifest
        sel = {int(b) for b in buckets}
        groups: dict = {}
        for b, files in manifest["buckets"].items():
            if int(b) in sel:
                for entry in files:
                    groups.setdefault(entry["schema_id"], []).append(
                        self._io.join(self.path, entry["path"]))
        parts = []
        for sid, paths in groups.items():
            written = T.StructType.fromJson(target["schemas"][str(sid)])
            written = written.add(OP_COL, T.StringType())
            df = self.spark.read.schema(written).parquet(*paths)
            parts.append(self._align(df, int(sid), target))
        return reduce(DataFrame.unionByName, parts) if parts else None

    @staticmethod
    def _delta_buckets(manifest: dict, min_files: int = 1) -> list:
        """Buckets carrying at least ``min_files`` delta files (merge-on-
        read): their rows are base ∪ deltas and need a read-time LWW to
        resolve to table state."""
        return [b for b, files in manifest["buckets"].items()
                if sum(1 for e in files if e.get("delta")) >= min_files]

    def _state_resolved(self, manifest: dict, buckets=None,
                        align_to: dict | None = None) -> DataFrame:
        """Snapshot state (tombstones included) of the selected buckets,
        with merge-on-read resolution applied ONLY where needed: buckets
        whose manifest entries are all base files hold exactly one row
        per key and stream straight through; delta-carrying buckets get
        the read-time LWW. Keys never cross buckets, so resolving the
        two groups independently is exact — and a 10^10-row table whose
        trickle batches touched 1% of buckets pays the resolve shuffle
        on 1% of its rows, not a full-table shuffle. ``align_to`` reads
        under a different (later) manifest's schema (changelog use)."""
        sel = (list(manifest["buckets"].keys()) if buckets is None
               else [str(int(b)) for b in buckets])
        deltas = set(self._delta_buckets(manifest))
        parts = [self._read_buckets(
            manifest, [b for b in sel if b not in deltas], align_to)]
        raw = self._read_buckets(
            manifest, [b for b in sel if b in deltas], align_to)
        if raw is not None:
            parts.append(last_writer_wins(
                raw, key=manifest["key"], order=tuple(manifest["order"])))
        parts = [p for p in parts if p is not None]
        if not parts:
            fields = list(self.schema(align_to or manifest).fields)
            fields.append(T.StructField(OP_COL, T.StringType()))
            return self.spark.createDataFrame([], T.StructType(fields))
        return reduce(DataFrame.unionByName, parts)

    def manifest(self, snapshot_id: int) -> dict:
        p = self._io.join(self.meta_dir,
                          "snapshot-%08d.json" % snapshot_id)
        if not self._io.exists(p):
            raise EngineError(
                "snapshot %d does not exist (expired or never written)"
                % snapshot_id)
        return json.loads(self._io.read_text(p))

    def snapshot_ids(self) -> list:
        out = []
        for name in self._io.listnames(self.meta_dir):
            if name.startswith("snapshot-") and name.endswith(".json"):
                out.append(int(name[len("snapshot-"):-len(".json")]))
        return sorted(out)

    def expire_snapshots(self, keep_last: int = 2) -> int:
        """Delete data files and manifests referenced ONLY by snapshots
        older than the newest ``keep_last`` (the analog of Iceberg's
        expire_snapshots). COW merges rewrite whole buckets, so without
        expiry every snapshot pins a full copy of its touched buckets —
        unbounded storage at 10^10 rows. Time travel remains available
        within the kept window. Every file under ``data/`` that is
        neither a retained parquet file nor its ``.<name>.crc`` sidecar
        goes (``_SUCCESS`` markers included), so expired and refused
        attempt directories are pruned whole. Returns the number of
        parquet files removed."""
        if keep_last < 1:
            # ids[-0:] would slice the whole list and expire nothing —
            # reject instead of silently inverting the caller's intent
            raise EngineError("keep_last must be >= 1")
        ids = self.snapshot_ids()
        head_id = self.head()["snapshot_id"]
        keep = set(ids[-keep_last:]) | {head_id}
        live: set = set()
        for sid in keep:
            m = self.manifest(sid)
            for files in m["buckets"].values():
                for entry in files:
                    live.add(entry["path"])
        keep_files = live | {"%s/.%s.crc" % tuple(p.rsplit("/", 1))
                              for p in live}
        removed = 0
        data_root = self._io.join(self.path, "data")
        for full in self._io.walk_files(data_root):
            if self._io.relpath(full, self.path) not in keep_files:
                self._io.delete(full)
                removed += full.endswith(".parquet")
        # prune now-empty snapshot dirs and expired manifests
        self._io.remove_empty_dirs(data_root)
        for sid in ids:
            if sid not in keep:
                self._io.delete(self._io.join(
                    self.meta_dir, "snapshot-%08d.json" % sid))
        return removed

    def read(self, include_tombstones: bool = False,
             snapshot_id: int | None = None) -> DataFrame:
        """Table state — live rows only unless asked otherwise.
        ``snapshot_id`` time-travels to an older (unexpired) snapshot."""
        m = self.head() if snapshot_id is None else self.manifest(snapshot_id)
        df = self._state_resolved(m)
        if include_tombstones:
            return df
        return df.where(F.col(OP_COL) != "D").drop(OP_COL)

    def changes(self, from_snapshot: int, to_snapshot: int) -> DataFrame:
        """Changelog between two retained snapshots (the Iceberg
        changelog-scan analog): one row per key whose state differs,
        with ``_change_type`` ∈ {insert, update, delete} and the TO-side
        payload (FROM-side payload for deletes). Lets downstream
        consumers read the lake incrementally instead of diffing full
        states themselves. Both snapshots must be within the
        expire_snapshots retention window.

        Scale design: the manifests record exactly which bucket → file
        lists changed between the snapshots, and a COW merge rewrites
        whole buckets — a bucket with an identical file list is
        byte-identical, so only DIFFERING buckets are read and diffed.
        An adjacent-snapshot changelog therefore costs O(touched
        buckets), not O(table). Falls back to the full diff only when
        the bucket count changed in between (a rebucket rewrites
        everything anyway). Both sides are aligned to the TO-snapshot's
        schema (rename chain applied, added columns null-filled), so
        changelogs spanning an evolve() compare like for like instead
        of misreporting renames as insert+delete."""
        m_to = self.manifest(to_snapshot)
        m_from = self.manifest(from_snapshot)
        key = m_to["key"]
        buckets = None
        if m_from["num_buckets"] == m_to["num_buckets"]:
            buckets = [
                b for b in set(m_from["buckets"]) | set(m_to["buckets"])
                if m_from["buckets"].get(b) != m_to["buckets"].get(b)]
        frm = self._state_resolved(m_from, buckets, align_to=m_to)
        to = self._state_resolved(m_to, buckets, align_to=m_to)
        f_live = frm.where(F.col(OP_COL) != "D")
        t_live = to.where(F.col(OP_COL) != "D")
        cols = [c for c in t_live.columns if c != OP_COL]
        lhs = f_live.select(
            F.col(key).alias("_k"),
            F.struct(*[F.col(c) for c in cols if c != key]).alias("_old"))
        rhs = t_live.select(
            *[F.col(c) for c in cols],
            F.col(key).alias("_k2"),
            F.struct(*[F.col(c) for c in cols if c != key]).alias("_new"))
        joined = rhs.join(lhs, rhs["_k2"] == lhs["_k"], "full_outer")
        inserts = (joined.where(F.col("_k").isNull())
                   .select(*cols, F.lit("insert").alias("_change_type")))
        updates = (joined.where(F.col("_k").isNotNull()
                                & F.col("_k2").isNotNull()
                                & (F.col("_old") != F.col("_new")))
                   .select(*cols, F.lit("update").alias("_change_type")))
        deleted_keys = (joined.where(F.col("_k2").isNull())
                        .select(F.col("_k").alias(key)))
        deletes = (f_live.join(deleted_keys, key, "inner")
                   .select(*cols, F.lit("delete").alias("_change_type")))
        return inserts.unionByName(updates).unionByName(deletes)

    # -- merge ----------------------------------------------------------------

    def merge(self, batch: DataFrame, batch_id: int,
              op_col: str = "op", n_salts: int | None = None,
              mode: str = "cow") -> MergeResult:
        """Key-partitioned MERGE upsert (last-writer-wins by the table's
        order columns; op 'D' → tombstone). Replay-safe: a batch id at or
        below the committed one is skipped without touching data.
        ``n_salts`` switches the in-batch dedup to the two-stage salted
        LWW for hot-key skew (cdc.dedup.salted_last_writer_wins).

        ``mode`` picks the commit shape (VERDICT r2 item 7):

        * ``"cow"`` (default): copy-on-write — touched buckets are read,
          combined with the batch winners, and fully rewritten. Reads
          stay cheap (one row per key on disk) but a 1-row batch
          rewrites its whole bucket: per-batch write amplification is
          O(touched buckets × bucket size). Right for large batches.
        * ``"delta"``: merge-on-read — ONLY the batch winners are
          written, appended to the touched buckets as delta files;
          nothing is read back. Write cost is O(batch), so N tiny
          batches cost O(N × batch) bytes, not O(N × bucket size).
          Reads of delta-carrying buckets resolve base ∪ deltas with a
          read-time LWW (replay order-insensitivity makes this exact);
          ``compact()`` folds deltas back into base files — schedule it
          like any other table maintenance.
        """
        if mode not in ("cow", "delta"):
            raise EngineError("merge mode must be 'cow' or 'delta'")
        m = self.head()
        if batch_id <= m["batch_id"]:
            return MergeResult(batch_id, m["snapshot_id"], skipped=True)

        key = m["key"]
        order = tuple(m["order"])
        nbuckets = m["num_buckets"]
        target = self.schema(m)
        target_names = [f.name for f in target.fields]

        missing = [c for c in (key, *order, op_col) if c not in batch.columns]
        if missing:
            raise EngineError(
                "merge batch is missing required columns %s" % missing)

        src = batch.withColumnRenamed(op_col, OP_COL)
        src = src.select(*[c for c in (*target_names, OP_COL)
                           if c in src.columns])

        bucket_expr = _bucket(key, nbuckets)
        if mode == "delta":
            # delta commits never read existing buckets, so `touched`
            # is not needed BEFORE the write — it is derived from the
            # written bucket directories afterwards. The merge's job
            # group then holds only the write query: under AQE its
            # upstream shuffles (the LWW aggregate, the repartition and
            # any join the caller built into the batch) each run as a
            # job of their own: 4 on a content-deduped trickle batch,
            # 5 when it is salted.
            touched = None
        else:
            # touched buckets from ONE aggregation over the batch KEYS,
            # not from materialized winners: LWW preserves the key set,
            # so the bucket sets are identical — and this query
            # column-prunes the batch down to the key (the rule
            # projection's other columns, including the Arrow json UDF,
            # are pruned away). The winners pipeline is then consumed by
            # exactly ONE query (the bucket write), so nothing is
            # persisted/read back through the block store — on a
            # bandwidth-bound host that double materialization was the
            # single largest per-batch memory cost.
            touched = sorted(
                r["bucket"] for r in
                src.select(bucket_expr.alias("bucket")).distinct()
                .collect())

        # the LWW aggregate counts each key's events on the way: their
        # sum is rows_in and their max the hot-key figure, observed on
        # the write job rather than computed by a job of their own
        if n_salts:
            winners = salted_last_writer_wins(
                src, key=key, order=order, n_salts=n_salts,
                count_col=_KEY_EVENTS)
        else:
            winners = last_writer_wins(src, key=key, order=order,
                                       count_col=_KEY_EVENTS)
        winners = winners.withColumn("bucket", bucket_expr)

        if mode == "delta":
            # nothing read back: base ∪ deltas resolve at read time
            combined = winners
        else:
            # a delta-carrying bucket needs no pre-resolve here: the
            # combined LWW below collapses base, deltas, and the batch
            # in one aggregate (and the rewrite folds the deltas away).
            # Existing rows carry no count, so the summed count stays
            # the batch's own
            existing = self._read_buckets(m, touched)
            if existing is not None:
                existing = existing.withColumn("bucket", bucket_expr)
                combined = last_writer_wins(
                    existing.unionByName(winners,
                                         allowMissingColumns=True),
                    key=key, order=order, count_col=_KEY_EVENTS)
            else:
                combined = winners

        # every figure rides ONE Observation at the top of the written
        # plan: one nested under the cow union goes unreported inside a
        # streaming foreachBatch, and Observation.get then blocks for
        # ever. Only the batch's keys carry an event count (it is NULL
        # on the cow rewrite's existing-only rows), so winners and
        # tombstones count the batch under either mode
        obs = Observation()
        in_batch = F.col(_KEY_EVENTS).isNotNull()
        combined = combined.observe(
            obs,
            F.count(_KEY_EVENTS).alias("winners"),
            F.sum(F.when(in_batch & (F.col(OP_COL) == "D"), 1)
                  .otherwise(0)).alias("tombstones"),
            F.sum(_KEY_EVENTS).alias("rows_in"),
            F.max(_KEY_EVENTS).alias("top_key_events")) \
            .drop(_KEY_EVENTS)

        # cow: one task per touched bucket (winners are bucket-grouped
        # already). delta: touched is unknown pre-write — hash the small
        # winner set across the session's parallelism instead
        n_parts = (max(len(touched), 1) if touched is not None
                   else self.spark.sparkContext.defaultParallelism)
        written = self._write_buckets(combined, m, n_parts)
        if mode == "delta":
            # the written directories ARE the touched set
            written = {b: m["buckets"].get(b, []) +
                       [dict(e, delta=True) for e in entries]
                       for b, entries in written.items()}
        elif set(written) != {str(b) for b in touched}:
            # the touched set came from a separate key-scan job: a
            # nondeterministic batch (unstable UDF/source) could place
            # winner rows in buckets that scan never saw, or none in one
            # it did — committing either would lose rows with no error
            raise EngineError(
                "merge wrote bucket directories %s but the batch keys hash "
                "to buckets %s: the batch is nondeterministic between jobs "
                "— aborting before commit so no rows are lost"
                % (sorted(written, key=int), touched))
        new_snap = self._commit(m, batch_id=batch_id,
                                buckets={**m["buckets"], **written})

        stats = obs.get
        top = stats.get("top_key_events")
        return MergeResult(
            batch_id, new_snap, skipped=False,
            rows_in=int(stats.get("rows_in") or 0),
            winners=int(stats.get("winners") or 0),
            tombstones=int(stats.get("tombstones") or 0),
            buckets_touched=len(written),
            top_key_events=None if top is None else int(top))

    def rollback(self, snapshot_id: int) -> int:
        """Roll the table back to a retained snapshot (the Iceberg
        ``rollback_to_snapshot`` analog): commits a NEW snapshot whose
        buckets/schema/batch-id are copied from the target, so history
        stays linear and expire_snapshots keeps working. Because the
        committed batch id rolls back too, a checkpoint-driven pipeline
        re-applies everything after the rollback point on its next run
        — the recovery story for a bad deploy that merged garbage
        batches: rollback, reset the pipeline checkpoint, re-run — the
        idempotent batch-id skip fast-forwards through everything at or
        before the rollback point and re-applies the rest. Data files
        are not touched (the target snapshot's files are still
        referenced; expire_snapshots reclaims the rolled-back ones
        later)."""
        target = self.manifest(snapshot_id)
        m = self.head()
        if snapshot_id == m["snapshot_id"]:
            return snapshot_id
        return self._commit(m, **target)

    def compact(self, min_deltas: int = 1) -> int:
        """Fold delta files back into a single base file set per bucket
        (the maintenance half of ``merge(mode="delta")`` — the analog of
        Iceberg's rewrite_data_files over MOR deletes). Only buckets
        carrying at least ``min_deltas`` delta files are read, resolved
        by the read-time LWW and rewritten; the rest keep their entries
        untouched, so a trickle run compacts incrementally (``CDCPipeline``
        passes its ``compact_after_deltas``). Tombstones are retained,
        batch id preserved — exactly-once resume and replay
        order-insensitivity are unaffected. Returns the new snapshot id
        (or the current one when there was nothing to fold)."""
        m = self.head()
        target = self._delta_buckets(m, min_deltas)
        if not target:
            return m["snapshot_id"]
        resolved = self._state_resolved(m, target).withColumn(
            "bucket", _bucket(m["key"], m["num_buckets"]))
        written = self._write_buckets(resolved, m, len(target))
        return self._commit(m, buckets={**m["buckets"], **written})
