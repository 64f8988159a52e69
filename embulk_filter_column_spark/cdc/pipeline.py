"""CDC pipeline orchestration: WAL tail → column rules → LWW dedup →
MERGE → checkpoint (SURVEY.md §3.4 lifecycle).

One batch = one or more WAL chunks. ``run()`` is the WAL/checkpoint loop
around ``_apply_batch``, the per-batch body (projection through journal)
that ``streaming.StreamingCDC`` also runs once per epoch::

    read chunks [lo, hi)                 # directory-pruned scan
    apply column-rule projection         # native exprs + json pandas UDF
    MERGE into lake (dedup inside)       # idempotent by batch id
    journal lineage/metrics              # Observation counters, no extra pass
    commit checkpoint                    # after the lake commit → exactly-once

Config evolution: ``config_schedule`` maps a starting chunk offset to a
FilterConfig; when the active config flips mid-stream the pipeline derives
an EvolutionPlan against the live lake schema and applies lake DDL before
merging the first batch under the new config.
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession, functions as F, types as T

from ..config import FilterConfig
from ..errors import EngineError
from ..plans.compiler import compile_filter
from ..plans.evolution import plan_evolution
from . import dedup
from .checkpoint import Checkpoint
from .lake import LakeTable
from .metrics import BatchJournal
from .wal import WalReader

ENVELOPE = ("op", "seq", "url", "warc_ts")


class CDCPipeline:
    def __init__(
        self,
        spark: SparkSession,
        wal_path: str,
        lake_path: str,
        checkpoint_path: str,
        filter_config=None,
        config_schedule: dict | None = None,
        key: str = "url",
        order: tuple = ("warc_ts", "seq"),
        num_buckets: int = 64,
        chunks_per_batch: int = 1,
        n_salts: int | None | str = None,
        auto_salt_n: int = 16,
        hot_key_fraction: float = 0.01,
        # a key only skews the LWW reduce when it dominates a shuffle
        # partition; 5% of a batch in one key is well past that for any
        # realistic partition count
        hot_key_share: float = 0.05,
        merge_mode: str = "cow",
        compact_after_deltas: int | None = None,
        sink=None,
        journal_path: str | None = None,
        dedup_index=None,
        dedup_text_col: str = "text",
        dlq_path: str | None = None,
    ):
        """``sink``: any object satisfying cdc.sink.Sink (plus
        ``exists()``/``create(schema)``/``schema()``) replaces the
        default manifest LakeTable — e.g. cdc.sink.IcebergSink on a
        cluster with the runtime jar. ``journal_path`` overrides where
        lineage/metrics parquet rows land (defaults to the lake path;
        required notion when the sink is a catalog table name).

        ``dedup_index``: content dedup AT INGEST — a persistent
        ``operators.incremental`` index (FingerprintIndex for exact,
        MinHashIndex for near-dup). Each batch's upserts are checked
        against the full ingest history BEFORE the merge: an event
        whose ``dedup_text_col`` duplicates anything previously
        accepted (a mirror url carrying the same page, a re-crawl that
        didn't change, boilerplate served under many urls) is
        suppressed — the training-corpus dedup a 100 TB crawl ingest
        must do online, not as an after-the-fact batch rescan. The
        check rides the index's partition-pruned bucket probe (reads
        k/B of the index for a batch touching k buckets, never the
        corpus) and its crash-safe batch journal: the pipeline passes
        its own batch id, so a crash-replayed batch returns the
        journaled accept/reject decision and the merge stays
        exactly-once end-to-end. Deletes and NULL-text events bypass
        the index (a delete must always reach the lake; NULL text has
        no content identity — the index would otherwise keep only one
        NULL-text event per batch).

        SEMANTIC NOTE: suppression is by CONTENT, across keys — a
        later update of url A is dropped when its text duplicates url
        B's accepted content, leaving A at its previous lake version.
        That is the intended corpus semantics (one copy of each
        content survives); pipelines that only want per-key change
        suppression should key the index on (key, fingerprint)
        upstream instead.

        ``dlq_path``: dead-letter queue. Events that cannot be merged
        correctly — NULL key (would collapse into one bogus LWW
        group), NULL/unknown ``op`` (neither upsert nor delete), or a
        NULL ordering column (no position in the LWW total order) —
        are diverted to ``dlq_path/batch=<id>/`` as parquet with a
        ``_dlq_reason`` column instead of silently corrupting the
        table, the standard quarantine seam of any production ingest.
        The write is per-batch deterministic overwrite, so crash
        replay rewrites the identical quarantine set (exactly-once
        composes unchanged); quarantined counts land in the batch's
        ``_metrics`` row (``dlq_rows``). Without ``dlq_path`` malformed
        events flow through unchecked (legacy behavior). Costs one extra
        column-pruned pass + small write per batch — the price of the
        audit trail; leave unset on trusted inputs."""
        self.spark = spark
        self.reader = WalReader(spark, wal_path)
        self.lake_path = lake_path
        self.sink = sink
        self.checkpoint = Checkpoint.load(spark, checkpoint_path)
        self.key = key
        self.order = tuple(order)
        self.num_buckets = num_buckets
        self.chunks_per_batch = chunks_per_batch
        # "cow" rewrites touched buckets per batch (large batches);
        # "delta" appends only the batch winners as merge-on-read delta
        # files (small/trickle batches — see LakeTable.merge docstring).
        # compact_after_deltas bounds read amplification in delta mode:
        # after each applied merge, lake.compact(min_deltas=N) folds the
        # buckets that accumulated >= N delta files back to base (the
        # lake picks them from its manifest; only those are rewritten)
        # — without it, a long trickle run degrades every read into an
        # ever-wider LWW union
        self.merge_mode = merge_mode
        self.compact_after_deltas = compact_after_deltas
        # hot-key skew defense: fan the in-batch LWW out over this many
        # salts (cdc.dedup.salted_last_writer_wins); None = single-stage;
        # "auto" = the two-stage salted LWW (auto_salt_n salts) engages
        # for batch n when the previous merge's busiest key held at
        # least hot_key_share of its rows (MergeResult.top_key_events /
        # rows_in, observed on the merge's own write job — no job of
        # its own). Salting changes only the physical plan, never the
        # result, so deciding one batch late is safe. With no previous
        # merge to go by (this object's first batch, after a skipped or
        # empty one, or a sink that reports no top_key_events) a
        # column-pruned sample of the batch's keys decides instead
        # (cdc.dedup.hot_keys, hot_key_fraction of the events; 3-4
        # Spark jobs).
        self.auto_salt = n_salts == "auto"
        self.n_salts = None if self.auto_salt else n_salts
        self.auto_salt_n = auto_salt_n
        self.hot_key_fraction = hot_key_fraction
        self.hot_key_share = hot_key_share
        # the previous merge's top_key_events / rows_in; None = unknown.
        # _metrics n_hot_keys: the sampled hot keys on a probed batch,
        # else 1 when this share engaged salting (the busiest key)
        self._top_key_share: float | None = None
        self.dedup_index = dedup_index
        self.dedup_text_col = dedup_text_col
        self.dlq_path = dlq_path
        if config_schedule:
            self.schedule = sorted(
                ((int(k), self._coerce(v)) for k, v in
                 config_schedule.items()))
        else:
            self.schedule = [(0, self._coerce(filter_config or {}))]
        self.journal = BatchJournal(spark, journal_path or lake_path)

    @staticmethod
    def _coerce(cfg) -> FilterConfig:
        return cfg if isinstance(cfg, FilterConfig) \
            else FilterConfig.from_dict(cfg)

    def _config_for_chunk(self, chunk: int) -> FilterConfig:
        active = self.schedule[0][1]
        for start, cfg in self.schedule:
            if chunk >= start:
                active = cfg
        return active

    def _n_hot_keys(self, events) -> int:
        """How many keys to salt this batch for: the previous merge's
        busiest-key share when there is one, else a sampled probe."""
        if self._top_key_share is not None:
            return int(self._top_key_share >= self.hot_key_share)
        return len(dedup.hot_keys(events.select(self.key), key=self.key,
                                  fraction=self.hot_key_fraction,
                                  min_share=self.hot_key_share))

    def _project(self, df, config: FilterConfig):
        # compile once per (config, input schema): the rule tree is
        # schema-static, so a steady-state stream compiles exactly once
        cache_key = (id(config), df.schema.json())
        cached = getattr(self, "_compile_cache", None)
        if cached is None or cached[0] != cache_key:
            compiled = compile_filter(config, df.schema)
            out_names = [f.name for f in compiled.output_schema.fields]
            missing = [c for c in (self.key, *self.order, "op")
                       if c not in out_names]
            if missing:
                raise EngineError(
                    "filter config must preserve the CDC envelope columns; "
                    "missing %s — keep them in `columns` or avoid dropping "
                    "them" % missing)
            self._compile_cache = cached = (cache_key, compiled)
        compiled = cached[1]
        return compiled.apply(df), compiled.output_schema

    def _dlq_reason(self):
        """First-match quarantine reason; NULL for mergeable rows. The
        op check is CASE-SENSITIVE on purpose: the lake's tombstone
        comparison is ``op == 'D'`` exactly, so a lowercase 'd' would
        pass a case-folding gate here and then merge as a live upsert
        with a NULL payload — the quarantine must reject exactly what
        the merge would mishandle."""
        reason = F.when(F.col(self.key).isNull(), "null_key") \
                  .when(F.col("op").isNull()
                        | ~F.col("op").isin("I", "U", "D"),
                        "bad_op")
        for c in self.order:
            reason = reason.when(F.col(c).isNull(), "null_order_col")
        return reason

    def _quarantine(self, projected, batch_id: int):
        """Divert unmergeable rows to ``dlq_path/batch=<id>`` and
        return the mergeable remainder. The quarantine set is a
        deterministic function of the batch, and the write is an
        overwrite of the batch's own directory — replay-idempotent.
        The diverted count (an Observation on the write job) is returned.
        Quarantine and remainder both derive from ONE reason-tagged
        projection (VERDICT r5 item 8), so the reason expression tree
        appears once per batch plan instead of twice."""
        from pyspark.sql import Observation

        tagged = projected.withColumn("_dlq_reason", self._dlq_reason())
        bad = tagged.where(F.col("_dlq_reason").isNotNull())
        obs = Observation()
        (bad.observe(obs, F.count(F.lit(1)).alias("n"))
         .write.mode("overwrite")
         .parquet("%s/batch=%d" % (self.dlq_path.rstrip("/"), batch_id)))
        return (tagged.where(F.col("_dlq_reason").isNull())
                .drop("_dlq_reason"), int(obs.get["n"]))

    def dlq(self):
        """All quarantined events across batches (``batch`` partition
        column + ``_dlq_reason``); schemas merged across config
        evolution."""
        if self.dlq_path is None:
            raise ValueError(
                "no dead-letter queue configured — pass dlq_path= to "
                "the pipeline to enable quarantine")
        # the directory itself, partition-discovered: a "/batch=*" glob
        # is probed as a metadata directory, which logs a
        # FileNotFoundException on every call
        return (self.spark.read.option("mergeSchema", "true")
                .parquet(self.dlq_path))

    def _content_dedup(self, projected, batch_id: int):
        """Suppress upserts whose ``dedup_text_col`` content the index
        has already accepted. Deletes, NULL-text, NULL-key and
        NULL/malformed-op events are routed AROUND the index — unioned
        back untouched (the predicate is null-safe in BOTH directions,
        so no row can fall out of the partition; pair with ``dlq_path``
        to quarantine the malformed ones instead). The decision is
        per KEY on the key's in-batch LAST-WRITER-WINS winner — the
        event that would actually reach the lake: checking every event
        would let a key's SUPERSEDED older text (a near-dup of history)
        veto its genuinely new newest text. A key whose winner
        duplicates history is suppressed whole; a surviving key passes
        all its events through to the normal merge LWW. The index call
        is journaled under this pipeline batch id, so crash replay
        reproduces the recorded decision instead of re-deciding
        against a mutated index."""
        from .dedup import last_writer_wins

        text = F.col(self.dedup_text_col)
        indexable = (F.col("op").isNotNull() & (F.col("op") != "D")
                     & text.isNotNull() & F.col(self.key).isNotNull())
        upserts = projected.where(indexable)
        winners = last_writer_wins(upserts, key=self.key,
                                   order=self.order)
        # dedup_ids returns the index's MATERIALIZED surviving-key
        # frame directly — the old dedup_and_update call re-joined the
        # winner rows against it only for this .select(key) to throw
        # the payload away again (one redundant semi-join of the whole
        # winner aggregation per batch)
        kept_keys = self.dedup_index.dedup_ids(
            winners, text_col=self.dedup_text_col, id_col=self.key,
            batch_id="b%08d" % batch_id)
        # ONE batch scan: the old kept-∪-bypass union read the batch
        # twice in every downstream merge job. A row passes iff it
        # bypasses the index (delete / NULL text / NULL key / bad op —
        # NULL keys never match the join, so they keep flowing) or its
        # key survived. The key frame is materialized and bounded by
        # the batch's winner count; AQE picks broadcast when it fits
        return (projected
                .join(kept_keys.withColumn("_kept", F.lit(1)),
                      self.key, "left")
                .where(~indexable | F.col("_kept").isNotNull())
                .select(*projected.columns))

    def _ensure_lake(self, output_schema, config: FilterConfig):
        """The merge target, created by the first batch and evolved
        when ``config`` (the batch's) projects another column list.
        Lake schema = projected payload without the transient op flag."""
        desired = T.StructType(
            [f for f in output_schema.fields if f.name != "op"])
        if self.sink is not None and not self.sink.exists():
            self.sink.create(desired)
            return self.sink
        if self.sink is None and not LakeTable.exists(self.spark,
                                                      self.lake_path):
            return LakeTable.create(
                self.spark, self.lake_path, desired, key=self.key,
                order=self.order, num_buckets=self.num_buckets)
        lake = self.table()
        current = lake.schema()
        if [f.name for f in current.fields] != \
                [f.name for f in desired.fields]:
            plan = plan_evolution(current, desired, config)
            lake.evolve(plan.new_schema, plan.renames)
        return lake

    def _apply_batch(self, events, batch_id: int,
                     chunk_lo: int | None = None,
                     chunk_hi: int | None = None):
        """One batch, from the read events to its journal rows. A
        ``run()`` batch's WAL offsets ``chunk_lo``/``chunk_hi`` pick its
        config; a streaming epoch has none and uses the first config."""
        t0 = time.monotonic()
        config = self._config_for_chunk(chunk_lo or 0)
        use_salts, n_hot = self.n_salts, None
        if self.auto_salt:
            n_hot = self._n_hot_keys(events)
            use_salts = self.auto_salt_n if n_hot else None
        projected, out_schema = self._project(events, config)
        dlq_rows = None
        if self.dlq_path is not None:
            projected, dlq_rows = self._quarantine(projected, batch_id)
        if self.dedup_index is not None:
            projected = self._content_dedup(projected, batch_id)
        lake = self._ensure_lake(out_schema, config)
        merge_kwargs = {"n_salts": use_salts}
        if self.merge_mode != "cow":
            # the default stays positional-free so custom sinks
            # (IcebergSink MERGE INTO) need not grow a mode knob
            merge_kwargs["mode"] = self.merge_mode
        result = lake.merge(projected, batch_id, **merge_kwargs)
        top = getattr(result, "top_key_events", None)
        rows_in = getattr(result, "rows_in", 0)
        self._top_key_share = (top / rows_in if top is not None
                               and rows_in else None)
        if (self.compact_after_deltas and not result.skipped
                and hasattr(lake, "compact")):
            lake.compact(min_deltas=self.compact_after_deltas)
        self.journal.record(result, chunk_lo, chunk_hi,
                            time.monotonic() - t0, dlq_rows=dlq_rows,
                            salted=bool(use_salts), n_hot_keys=n_hot)
        return result

    def run(self, max_batches: int | None = None) -> list:
        """Process available WAL chunks from the checkpointed offset.
        Safe to re-run after a crash at any point — replayed batches are
        skipped by the lake's batch-id check."""
        results = []
        end = self.reader.end_offset
        while self.checkpoint.next_chunk < end:
            if max_batches is not None and len(results) >= max_batches:
                break
            lo = self.checkpoint.next_chunk
            hi = min(lo + self.chunks_per_batch, end)
            batch_id = self.checkpoint.batch_id + 1
            results.append(self._apply_batch(
                self.reader.read_chunks(lo, hi), batch_id, lo, hi))
            self.checkpoint.commit(hi, batch_id)
        return results

    def table(self):
        """The merge target: the custom sink when one was injected,
        otherwise the manifest LakeTable at lake_path."""
        if self.sink is not None:
            return self.sink
        return LakeTable(self.spark, self.lake_path)
