"""Keyed idempotent sinks (SURVEY §2.1 S8, §2.6 T2).

The reference's signature store is a DynamoDB put keyed by content hash
(signer/index.js:229-242): re-delivery overwrites the same item, so the
store converges no matter how many times a record arrives. This module
gives the engine that semantics over a parquet-backed keyed table: the
``foreachBatch`` upserter anti-joins each batch against the existing keys
and appends only unseen ones — convergent even when the *checkpoint* is
lost (a strictly stronger property than checkpoint-based exactly-once,
which this composes with). One store class, :class:`KeyedParquetSink`,
serves every keyed caller: the signature store (``tx_hash``), the
near-dup gate's shingle store (``doc_id``) and its MinHash band index
(``(band, bv, doc_id)`` bucketed on ``(band, bv)``).

At warehouse scale the anti-join is a broadcast of the batch's keys against
the key column of the sink (or a MERGE on a Delta/Iceberg table — same
logical contract, swap the implementation here).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

META_FILE = "_slsp_meta.json"


def _read_bucket_count(path: str, default: int) -> int:
    """The bucket count recorded in the store's ``_slsp_meta.json``
    sidecar, or ``default`` when there is none. Stores written before the
    sidecar existed keep the caller's count (back-compat: every pre-meta
    store used its class's default count)."""
    try:
        with open(os.path.join(path, META_FILE)) as f:
            return int(json.load(f)["n_buckets"])
    except (OSError, ValueError, KeyError):
        return default


def _write_bucket_count(path: str, n_buckets: int) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, META_FILE), "w") as f:
        json.dump({"n_buckets": n_buckets}, f)


def _rename_over(live: str, new: str, backup: str) -> None:
    """Replace directory ``live`` by ``new`` with two renames: ``live`` →
    ``backup`` (when it exists), then ``new`` → ``live`` (when it
    exists). If the second rename raises, the backup is moved back
    before re-raising, so ``live`` reads as before. The caller drops
    ``backup`` once every replacement it makes has succeeded."""
    had_live = os.path.exists(live)
    if had_live:
        os.rename(live, backup)
    try:
        if os.path.exists(new):
            os.rename(new, live)
    except BaseException:
        if had_live:
            os.rename(backup, live)
        raise


def _swap_in(path: str, staged: str, n_buckets: int) -> None:
    """Swap a fully written rewrite at ``staged`` in for the store at
    ``path``. The bucket-count sidecar is written INTO the staged dir
    first, so the count travels with the data through the swap (ADVICE
    r11: writing it after the swap left a crash window in which a fresh
    sink probed the rewritten store at its constructor default and
    duplicated keys). Then :func:`_rename_over` with the backup at
    ``<staged>_old``; the backup is dropped last. A crash between the
    renames leaves the backup; recovery = rename it back."""
    _write_bucket_count(staged, n_buckets)
    backup = staged + "_old"
    shutil.rmtree(backup, ignore_errors=True)
    _rename_over(path, staged, backup)
    shutil.rmtree(backup)


class KeyedParquetSink:
    """Append-only parquet table that behaves like a keyed KV store.

    Contract: ``key`` (one column name or a list of them) identifies a
    row — for the signature store it is the content hash, the
    reference's DynamoDB PK (signer/index.js:229-242). Key columns must
    be non-null: NULL never equals anything in the probe's semi-join, so
    a NULL-keyed row is never found and every redelivery appends it
    again.

    Layout: hash-bucketed — every row lands in partition
    ``__bucket = pmod(xxhash64(*bucket_cols), n_buckets)``, where
    ``bucket_cols`` defaults to the key columns. The put-if-absent
    probe then reads ONLY the buckets the batch's rows can live in
    (hive partition pruning), so per-batch probe cost is
    O(store/n_buckets × affected buckets), not O(store) — the same
    layout lever ``Scd2ParquetSink`` uses for its MERGE, applied to the
    read side. At 100 TB this is the difference between a full store
    scan per micro-batch and a bounded bucket probe.

    ``bucket_cols`` may be a strict subset of the key: the near-dup
    gate's MinHash band index (r13, VERDICT r12 #2) is keyed on
    ``(band, bv, doc_id)`` and bucketed on the band key ``(band, bv)``,
    which is legitimately NON-unique — many documents share a band
    bucket; that collision IS the candidate signal. :meth:`fetch`
    semi-joins on ``bucket_cols``, so it returns the candidate postings
    list (every indexed doc sharing a band key with the batch), while
    :meth:`upsert_batch` stays put-if-absent on the full key — a
    redelivered batch re-derives identical band rows and every one drops
    in the anti-join, so the index converges under at-least-once
    delivery exactly like the signature store, generalized from
    content-equality to content-similarity.

    Bucket-count evolution (VERDICT r10 #6): the count is NOT baked into
    readers — the store is self-describing via a ``_slsp_meta.json``
    sidecar written on first write, adopted by every subsequent open
    (so a sink constructed with the default count still probes a
    32-bucket store correctly), and changed offline by :meth:`resplit`
    exactly like an Iceberg bucket-spec evolution rewrite.
    """

    N_BUCKETS = 16
    BUCKET_COL = "__bucket"

    def __init__(
        self,
        path: str,
        key: str | list[str],
        n_buckets: int | None = None,
        bucket_cols: list[str] | None = None,
    ):
        self.path = path
        self.key = [key] if isinstance(key, str) else list(key)
        self.bucket_cols = list(bucket_cols) if bucket_cols else self.key
        self.n_buckets = int(n_buckets or self.N_BUCKETS)
        # test seam for the compact() concurrent-append guard
        self._compact_pre_swap = None
        # store-schema cache (r13, guide §6): the column set is fixed for
        # the store's lifetime (payload columns + BUCKET_COL), so one
        # schema inference serves every subsequent per-batch read; the
        # offline rewrites preserve the schema (resplit still resets it
        # out of caution since it mutates n_buckets)
        self._store_schema = None

    def _read_store(self, spark: SparkSession) -> DataFrame:
        """Store scan with the schema cached after the first read —
        uncached, Spark runs a schema-inference job per read, which the
        probe path pays once per micro-batch."""
        if self._store_schema is None:
            df = spark.read.parquet(self.path)
            self._store_schema = df.schema
            return df
        return spark.read.schema(self._store_schema).parquet(self.path)

    def _legacy_flat_files(self) -> list[str]:
        """Pre-bucketing stores wrote ``part-*.parquet`` at the top level;
        the bucketed layout puts every data file under ``__bucket=``."""
        if not os.path.isdir(self.path):
            return []
        return sorted(
            os.path.join(self.path, f)
            for f in os.listdir(self.path)
            if f.endswith(".parquet")
        )

    def exists(self, spark: SparkSession) -> bool:
        """True iff a bucketed store is present at ``path``. Fails LOUDLY
        on a legacy flat-layout store (ADVICE r10): silently returning
        False would skip the put-if-absent probe (duplicate keys appended)
        and the mixed flat+partitioned directory would then break
        partition discovery on read. Run :meth:`migrate_legacy` once.
        """
        if self._legacy_flat_files():
            raise RuntimeError(
                f"{self.path} holds a legacy flat-layout store "
                f"(top-level .parquet files); the bucketed probe cannot "
                f"see its keys. Run migrate_legacy(spark) once (with the "
                f"owning stream stopped) before writing."
            )
        if os.path.isdir(self.path) and any(
            f.startswith(f"{self.BUCKET_COL}=") for f in os.listdir(self.path)
        ):
            self.n_buckets = _read_bucket_count(self.path, self.n_buckets)
            return True
        return False

    def migrate_legacy(self, spark: SparkSession) -> int:
        """One-shot migration of a pre-bucketing flat store into the
        bucketed layout (ADVICE r10): read the top-level files, route
        every row to its bucket partition, retire the flat files. Must
        run with the owning stream stopped (same precondition as
        :meth:`compact`). Returns the number of flat files migrated;
        idempotent (no flat files ⇒ no-op).

        Crash tolerance (ADVICE r11): the original append-then-delete
        order could crash between the two and leave the rows present in
        BOTH layouts — a re-run would then append them a second time
        despite the idempotence claim. Instead the migrated layout is
        staged to a sibling directory and swapped in by :func:`_swap_in`
        (the sidecar travels with the data; a crash between the renames
        leaves the ``.migrate_old`` backup). Any bucketed rows already
        present (a crashed earlier migration) are unioned in and
        key-deduped, so every crash point re-runs to the same converged
        store."""
        import glob as _glob

        flat = self._legacy_flat_files()
        if not flat:
            return 0
        rows = spark.read.parquet(*flat).withColumn(
            self.BUCKET_COL, self._bucket_expr()
        )
        prior_dirs = sorted(
            _glob.glob(os.path.join(self.path, f"{self.BUCKET_COL}=*"))
        )
        if prior_dirs:
            prior = spark.read.option("basePath", self.path).parquet(
                *prior_dirs
            )
            rows = prior.unionByName(rows).dropDuplicates(self.key)
        staged = self.path.rstrip("/") + ".migrate"
        shutil.rmtree(staged, ignore_errors=True)
        rows.write.mode("overwrite").partitionBy(self.BUCKET_COL).parquet(
            staged
        )
        _swap_in(self.path, staged, self.n_buckets)
        return len(flat)

    def _bucket_expr(self):
        from pyspark.sql import functions as F

        return F.pmod(
            F.xxhash64(*[F.col(c) for c in self.bucket_cols]),
            F.lit(self.n_buckets),
        ).cast("int")

    def _affected_buckets(self, df: DataFrame) -> list[int]:
        """Distinct bucket ids of ``df`` (bounded driver collect: ≤
        n_buckets values) — the partition filter of every pruned read."""
        return [r[0] for r in df.select(self.BUCKET_COL).distinct().collect()]

    @staticmethod
    def probe_plan(
        seen: DataFrame, fresh: DataFrame, key: str | list[str]
    ) -> DataFrame:
        """The put-if-absent probe's pure plan (plan-lintable, like
        ``Scd2ParquetSink.merge_plan``): given the store's key columns
        ``key`` (already bucket-pruned) and the deduped batch, return
        the batch rows whose keys are NOT in the store.

        Broadcast direction matters at scale (r10, found by the plan
        audit that fixed the SCD2 merge): the naive
        ``fresh LEFT ANTI store`` plans as ``BroadcastHashJoin LeftAnti
        BuildRight`` — Spark can only build the RIGHT side of an anti
        join, so every micro-batch would broadcast the STORE's whole
        key column, which grows without bound. Instead: two joins that
        only ever broadcast batch-sized sets — the store is probed with
        a semi join against the BROADCAST batch keys (the Bloom-filter
        shape — one store scan, no store shuffle, no store broadcast;
        ≤|batch| rows survive), then the batch anti-joins that tiny hit
        set. Plan shape pinned in ``tests/test_sinks_metrics.py``.
        """
        from pyspark.sql import functions as F

        hits = seen.join(
            F.broadcast(fresh.select(key)), key, "left_semi"
        ).distinct()
        return fresh.join(F.broadcast(hits), key, "left_anti")

    def upsert_batch(
        self,
        batch_df: DataFrame,
        batch_id: int,
        seen: DataFrame | None = None,
    ) -> None:
        """foreachBatch hook: put-if-absent per key.

        Within-batch duplicates collapse first (last write wins is
        irrelevant here: same key ⇒ same payload, PK = content hash);
        cross-batch and cross-run duplicates drop via the bucket-pruned
        probe (:meth:`probe_plan`) — affected buckets are a bounded
        driver collect (≤ n_buckets values), the store read prunes to
        those hive partitions, and only batch-sized key sets ever ride
        a broadcast.

        ``seen`` (r14, guide §5): a caller that already read the store
        this batch (e.g. through :meth:`fetch`) can pass that result —
        any superset of the store rows sharing a key with the batch,
        taken BEFORE any same-batch append — and the absence check reuses
        it instead of reading the store a second time. Sound whenever
        the caller fetched with the batch's own ``bucket_cols`` values: a
        store row colliding with a batch row on the full key matches it
        on ``bucket_cols`` too, so it is in the fetch result.
        """
        from pyspark.sql import functions as F

        spark = batch_df.sparkSession
        present = self.exists(spark)  # syncs n_buckets from meta
        fresh = batch_df.dropDuplicates(self.key).withColumn(
            self.BUCKET_COL, self._bucket_expr()
        )
        if present:
            # persist the deduped batch across its two consumers (the
            # bucket collect and the probe+write job) — unpersisted, the
            # batch dedup re-ran per job (r13, guide §5; batch-bounded)
            fresh = fresh.persist()
            try:
                if seen is None:
                    seen = self._read_store(spark).filter(
                        F.col(self.BUCKET_COL).isin(
                            self._affected_buckets(fresh)
                        )
                    )
                self.probe_plan(
                    seen.select(self.key), fresh, self.key
                ).write.mode("append").partitionBy(self.BUCKET_COL).parquet(
                    self.path
                )
            finally:
                fresh.unpersist()
        else:
            fresh.write.mode("append").partitionBy(self.BUCKET_COL).parquet(
                self.path
            )
            _write_bucket_count(self.path, self.n_buckets)

    def read(self, spark: SparkSession) -> DataFrame:
        return self._read_store(spark).drop(self.BUCKET_COL)

    def fetch(self, spark: SparkSession, keys: DataFrame) -> DataFrame:
        """Bucket-pruned lookup (r13, for the streaming near-dup gate):
        the store rows whose ``bucket_cols`` values appear in ``keys``
        (batch-bounded; any columns beyond ``bucket_cols`` are ignored).
        Read cost is |affected buckets| partitions — the put-if-absent
        probe's read path, exposed for callers that need the matched
        rows' PAYLOAD (the candidate docs' shingle sets for Jaccard
        verification; the band index's candidate postings list) rather
        than the absence set. Only the batch-sized key set rides a
        broadcast; the store is never shuffled or broadcast."""
        from pyspark.sql import functions as F

        self.n_buckets = _read_bucket_count(self.path, self.n_buckets)
        want = keys.select(self.bucket_cols).distinct().withColumn(
            self.BUCKET_COL, self._bucket_expr()
        )
        return (
            self._read_store(spark)
            .filter(F.col(self.BUCKET_COL).isin(self._affected_buckets(want)))
            .join(F.broadcast(want.drop(self.BUCKET_COL)), self.bucket_cols,
                  "left_semi")
            .drop(self.BUCKET_COL)
        )

    def _bucket_files(self, b: int) -> list[str]:
        import glob

        return sorted(
            glob.glob(
                os.path.join(self.path, f"{self.BUCKET_COL}={b}", "*.parquet")
            )
        )

    def compact(
        self, spark: SparkSession, max_files_per_bucket: int = 8
    ) -> list[int]:
        """Bucket-local small-file compaction.

        An append-only bucketed store accrues one file per (batch,
        bucket); after B batches every probe of a bucket opens ~B tiny
        files — the classic streaming-sink small-files problem (at
        100 TB: footer reads and NameNode/listing pressure dominate).
        Rewrite each bucket whose file count exceeds the threshold into
        a single file, bucket-locally: rows only move WITHIN their
        bucket (one exchange keyed on the bucket column routes each
        bucket to one task — the same job shape as a Delta OPTIMIZE
        over selected partitions), and untouched buckets are not
        rewritten (dynamic partition overwrite). The put-if-absent
        contract is unchanged — same keys, same buckets, fewer files.

        Bucket file counts come from a driver-side directory listing
        (bounded: n_buckets entries); at warehouse scale that listing
        is the table manifest. Returns the compacted bucket ids.

        Concurrency contract (ADVICE r10): compact() must run with the
        owning streaming query STOPPED — dynamic partition overwrite
        replaces a todo bucket wholesale, so a row appended between the
        read and the commit would be silently deleted. Enforced, not
        just documented: each todo bucket's file listing is re-checked
        after the merge materializes and immediately before the swap;
        any change aborts the whole compaction (nothing written, the
        appended files intact). The residual read-check-swap window is
        a few milliseconds vs the unguarded read-to-commit seconds; a
        production deployment closes it entirely with a metadata-commit
        table format (Delta/Iceberg OPTIMIZE) or the manifest pattern
        ``sources/manifest_datasource.py`` demonstrates.

        Crash tolerance: the rewrite rides Spark's dynamic-partition-
        overwrite committer (stage, then swap per partition); a crash
        mid-commit can leave an affected bucket with the old files
        removed — plain-parquet overwrite has no metadata transaction.
        Compaction is safe to re-run (idempotent given the same
        inputs).
        """
        from pyspark.sql import functions as F

        self.n_buckets = _read_bucket_count(self.path, self.n_buckets)
        listing = {b: self._bucket_files(b) for b in range(self.n_buckets)}
        todo = [
            b for b, fs in listing.items() if len(fs) > max_files_per_bucket
        ]
        if not todo:
            return []
        merged = (
            spark.read.parquet(self.path)
            .filter(F.col(self.BUCKET_COL).isin(todo))
            .repartition(F.col(self.BUCKET_COL))
        )
        # cut lineage from self.path BEFORE overwriting it (Spark forbids
        # read-and-overwrite of the same path in one job — the same
        # discipline as Scd2ParquetSink.merge_batch)
        out = merged.localCheckpoint(eager=True)
        if self._compact_pre_swap is not None:  # test seam
            self._compact_pre_swap()
        changed = [b for b in todo if self._bucket_files(b) != listing[b]]
        if changed:
            raise RuntimeError(
                f"compact() aborted: buckets {changed} changed during the "
                f"rewrite — a streaming query is still appending to "
                f"{self.path}; stop it before compacting."
            )
        prev_mode = spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode"
        )
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            out.write.mode("overwrite").partitionBy(self.BUCKET_COL).parquet(
                self.path
            )
        finally:
            spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", prev_mode
            )
        return todo

    def resplit(self, spark: SparkSession, n_buckets: int) -> None:
        """Offline bucket-count evolution (VERDICT r10 #6): rewrite the
        store under a new bucket count. At 100 TB a fixed count
        eventually leaves each bucket too large for a bounded probe;
        doubling the count is the standard growth step (Iceberg
        bucket-spec evolution, Delta OPTIMIZE ZORDER re-layout — same
        full-rewrite cost, amortized over the store's lifetime).

        Every row re-routes to ``pmod(xxhash64(*bucket_cols), new_n)`` —
        a row's old and new bucket differ, so this is a full rewrite, NOT
        a dynamic partition overwrite: the new layout is staged to a
        sibling directory and swapped in by :func:`_swap_in` (the new
        count travels with the data; a crash between the renames leaves
        the ``.resplit_old`` backup). Must run with the owning stream
        stopped.
        """
        if not self.exists(spark):
            raise RuntimeError(f"no bucketed store at {self.path}")
        if n_buckets == self.n_buckets:
            return
        self._store_schema = None
        df = spark.read.parquet(self.path).drop(self.BUCKET_COL)
        self.n_buckets = int(n_buckets)
        staged = self.path.rstrip("/") + ".resplit"
        df.withColumn(self.BUCKET_COL, self._bucket_expr()).write.mode(
            "overwrite"
        ).partitionBy(self.BUCKET_COL).parquet(staged)
        _swap_in(self.path, staged, self.n_buckets)


class Scd2ParquetSink:
    """Streaming CDC → type-2 history MERGE (SURVEY §2.1 S8 extended).

    The reference's keyed sink keeps only the LATEST value per key
    (DynamoDB put, signer/index.js:229-242); this sink is that write path
    upgraded to history-keeping: each micro-batch of change records is
    merged into a bucket-partitioned parquet SCD2 table (one row per
    (user, attribute-run) with ``valid_from_s``/``valid_to_s``/
    ``is_current`` — the exact semantics ``lake_scd2_build`` pins in
    batch), maintained incrementally instead of rebuilt from the full
    changelog.

    MERGE algorithm per batch (copy-on-write over AFFECTED BUCKETS only —
    the plain-parquet rendition of a Delta/Iceberg MERGE):
      1. affected buckets = distinct ``pmod(user_id, n_buckets)`` in the
         batch (bounded driver collect: ≤ n_buckets values);
      2. the existing history rows of those buckets are read back as
         change records — a version row IS its opening change
         ``(user_id, attr, valid_from_s, event_id)``;
      3. the out-of-order GUARD (below) splits the batch into mergeable
         records and quarantined violators;
      4. union with the read-back history, absorb at-least-once
         redelivery by exact-key dedup on ``(user_id, ts_s, event_id)``;
      5. run-collapse (LAG) drops consecutive same-value records, then
         ROW_NUMBER/LEAD rebuild version numbers and validity intervals —
         every window partitions on ``user_id``, one hash exchange;
      6. the merge result is written once to a staging sibling and ONLY
         the affected bucket directories are swapped in (driver rename).

    Delivery contract and the out-of-order GUARD (VERDICT r10 #1): the
    merge is exact under per-key in-order delivery of NEW change records
    plus arbitrary exact-duplicate redelivery — what a binlog/stream-shard
    CDC source provides per key. A genuinely novel record OLDER than a
    key's already-delivered maximum can land between a version row and a
    record the collapse dropped, whose reappearance the changes-only
    history cannot reconstruct. Rather than documenting the hazard, the
    sink DETECTS it per batch, reusing the history already read back for
    the merge (no extra I/O).

    Soundness requires one piece of merge metadata: every history row
    carries its key's MAX DELIVERED position (``seen_ts_s`` /
    ``seen_event_id``), maintained per merge. The retained version head
    is NOT enough — the run-collapse erases evidence: after delivering
    A@10 then A@20 (one version, head 10), a late B@15 compares newer
    than the retained head and would silently merge into a history
    (A[10,15), B[15,∞)) that is missing the A@20 reversion; against the
    delivered maximum (20) it is correctly old (found r11 while writing
    the guard's closed-form oracle, ``stream_cdc_scd2_ooo``).

    The rule, exact under this metadata: a batch record at ``(ts_s,
    event_id)`` ≤ the key's last-seen position is a violation iff the
    attribute in force at its position differs from the record's (or
    nothing is in force — a pre-history record). An old record whose
    value matches the in-force run is a no-op under the merge whether it
    is a redelivered collapsed duplicate or a coincidental novel record
    (so at-least-once replay NEVER quarantines), while any old record
    that would change the history is caught. Violators are excluded from
    the merge (history stays byte-identical), land in
    ``<path>_quarantine/batch_id=<id>`` (overwrite per batch id —
    idempotent under replay, the DLQ pattern ``streaming/dlq.py``), and
    flag their keys for a full-changelog rebuild: :meth:`needs_rebuild`
    lists them, :meth:`rebuild_keys` recomputes exactly those keys from
    the authoritative changelog and clears the flag. After a rebuild the
    quarantined record IS history, so a replay of the offending batch
    re-adjudicates it as a safe duplicate — the quarantine self-heals.
    Stores written before the metadata existed fall back per row to the
    retained-opening position (the pre-r11 guard strength).

    Idempotence: the merge is a deterministic function of
    (existing history ∪ batch records), and redelivered batches dedup to
    a no-op — so a restart that replays a committed batch, or a full
    replay over a populated table with a fresh checkpoint, converges to
    the same table (pinned in ``tests/test_cdc_scd2.py``).

    Scale: each batch touches |affected buckets| partitions, reads back
    only those buckets' history (at 100 TB: partition-pruned scan; the
    read-back is persisted for the batch because the guard and the merge
    both consume it), and shuffles once on ``user_id``. Bucket count
    trades write amplification against small files exactly like Delta
    MERGE file sizing and evolves offline via :meth:`resplit`; the
    merge result is materialized exactly once, into a staging sibling
    directory, then swapped in per affected bucket
    (:meth:`_swap_affected_buckets` — writing to a different path keeps
    clear of Spark's read-and-overwrite restriction without the extra
    ``localCheckpoint`` materialization pass it used to require)."""

    N_BUCKETS = 8

    def __init__(self, path: str, n_buckets: int | None = None):
        self.path = path
        self.n_buckets = int(n_buckets or self.N_BUCKETS)
        # superset-schema cache (r13): the sampled-footer schema is
        # invariant for the store's lifetime — the ONLY drift this store
        # can exhibit is the two optional guard-metadata columns, and the
        # superset construction always includes them — so one footer
        # sample serves every subsequent merge batch (uncached it cost a
        # Spark schema-inference job per micro-batch)
        self._hist_schema = None

    @property
    def quarantine_path(self) -> str:
        return self.path.rstrip("/") + "_quarantine"

    def exists(self) -> bool:
        import glob

        if glob.glob(os.path.join(self.path, "bucket=*")):
            self.n_buckets = _read_bucket_count(self.path, self.n_buckets)
            return True
        return False

    def _read_history(self, spark: SparkSession) -> DataFrame:
        """Every read of the history table uses an EXPLICIT superset
        schema (ADVICE r12, refining the r11 fix): after the first merge
        over a pre-r11 store, only the affected buckets carry
        ``seen_ts_s``/``seen_event_id`` (dynamic partition overwrite
        rewrites nothing else), and a plain parquet read infers the
        schema from an ARBITRARY file — so the guard's
        ``"seen_ts_s" in hist.columns`` checks were nondeterministic:
        when a legacy file won inference, existing guard metadata was
        silently dropped and the guard degraded to the retained-opening
        head, the exact collapsed-tail corruption it exists to catch.

        r11's answer was ``mergeSchema``, which is deterministic but
        reads EVERY file's footer at planning time — before the bucket
        filter applies — turning the documented O(affected buckets)
        per-batch cost into O(total files) (ADVICE r12). Instead we now
        sample ONE data file's footer, extend its schema with the two
        guard-metadata fields when the sampled file is legacy (types
        copied from ``valid_from_s``/``event_id`` — the metadata records
        positions in those columns' domains), add the ``bucket``
        partition column, and hand the superset to ``spark.read.schema``:
        zero inference, one footer read regardless of store size, legacy
        rows still surface NULL metadata for the per-row ``coalesce``
        fallbacks. Mixed stores stay deterministic because the only
        schema drift this store can exhibit is exactly those two
        optional columns — new files are a strict superset of legacy
        ones (pinned by
        ``test_mixed_schema_store_guard_metadata_deterministic``).

        The sample uses a local ``glob`` like :meth:`exists` /
        :meth:`needs_rebuild`; on an object store this becomes one
        ``FileSystem.listStatus`` of one bucket directory — still O(1)
        in store size."""
        import glob as _glob

        from pyspark.sql.types import IntegerType, StructField, StructType

        if self._hist_schema is not None:
            return spark.read.schema(self._hist_schema).parquet(self.path)
        files = sorted(
            _glob.glob(os.path.join(self.path, "bucket=*", "*.parquet"))
        )
        if not files:  # empty store: preserve the old failure mode
            return spark.read.parquet(self.path)
        sampled = spark.read.parquet(files[0]).schema
        by_name = {f.name: f for f in sampled.fields}
        fields = [f for f in sampled.fields if f.name != "bucket"]
        if "seen_ts_s" not in by_name:
            fields.append(
                StructField(
                    "seen_ts_s", by_name["valid_from_s"].dataType, True
                )
            )
            fields.append(
                StructField(
                    "seen_event_id", by_name["event_id"].dataType, True
                )
            )
        fields.append(StructField("bucket", IntegerType(), True))
        self._hist_schema = StructType(fields)
        return spark.read.schema(self._hist_schema).parquet(self.path)

    @staticmethod
    def merge_plan(cand: DataFrame) -> DataFrame:
        """The MERGE's pure plan: change records (columns ``user_id,
        attr, ts_s, event_id, bucket`` — new candidates already unioned
        with the affected buckets' read-back history) → rebuilt version
        rows. Exposed separately from :meth:`merge_batch` so its shape
        is plan-lintable like every registered query: exact-duplicate
        dedup, LAG run-collapse, and ROW_NUMBER/LEAD reversioning ALL
        partition on ``user_id`` — one hash exchange end to end, no
        global window (pinned in ``tests/test_cdc_scd2.py``).

        The dedup is LAG-based rather than ``dropDuplicates``: exact
        copies share the full ``(user_id, ts_s, event_id)`` key, so in
        the user-partitioned (ts_s, event_id) ordering every copy is
        ADJACENT to another and a lag-equality filter removes all but
        one (k identical rows: each of rows 2..k sees an identical
        predecessor — lag reads the pre-filter sequence). A
        ``dropDuplicates`` would shuffle on the 3-column key and the
        windows would shuffle AGAIN on user_id; the lag form rides the
        windows' own exchange (plan-pinned: exactly one
        hashpartitioning — found when the shape test caught the
        two-exchange version)."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
        deduped = (
            cand.withColumn(
                "same_key",
                F.lag("ts_s").over(w).eqNullSafe(F.col("ts_s"))
                & F.lag("event_id").over(w).eqNullSafe(F.col("event_id")),
            )
            .filter(~F.col("same_key"))
            .drop("same_key")
        )
        collapsed = (
            deduped.withColumn("prev_attr", F.lag("attr").over(w))
            .filter(
                F.col("prev_attr").isNull()
                | (F.col("prev_attr") != F.col("attr"))
            )
            .drop("prev_attr")
        )
        return collapsed.select(
            "user_id",
            "attr",
            F.row_number().over(w).cast("bigint").alias("version_n"),
            F.col("ts_s").alias("valid_from_s"),
            F.lead("ts_s").over(w).alias("valid_to_s"),
            "event_id",
            "bucket",
        ).withColumn("is_current", F.col("valid_to_s").isNull())

    @staticmethod
    def guard_plan(hist: DataFrame, cand: DataFrame) -> DataFrame:
        """The out-of-order guard's pure plan: given the affected
        buckets' existing history and the batch's change records, return
        the VIOLATORS — records at or before their key's head whose merge
        would change the history (see the class docstring for the exact
        rule and why redelivered duplicates are never violators).

        Shape: one aggregate over the (bucket-pruned) history for the
        per-key head, a batch-sized equi-join to tag old records, then a
        user_id equi-join with a range predicate back to the history to
        find the in-force version at each old record's position — the
        standard point-in-interval lookup, batch-sized on the left. Every
        join keys on user_id; nothing store-sized is ever broadcast or
        collected."""
        from pyspark.sql import functions as F

        pos = F.struct(
            F.col("ts_s").alias("t"), F.col("event_id").alias("e")
        )
        # per-key max DELIVERED position (coalesce: rows written before
        # the metadata existed fall back to their opening)
        head_pos = F.struct(
            F.coalesce("seen_ts_s", "valid_from_s").alias("t"),
            F.coalesce("seen_event_id", "event_id").alias("e"),
        )
        head = hist.groupBy("user_id").agg(F.max(head_pos).alias("__head"))
        old = (
            cand.join(head, "user_id")
            .filter(pos <= F.col("__head"))
            .drop("__head")
        )
        r, h = old.alias("r"), hist.alias("h")
        inforce = r.join(
            h,
            (F.col("r.user_id") == F.col("h.user_id"))
            & (
                (F.col("h.valid_from_s") < F.col("r.ts_s"))
                | (
                    (F.col("h.valid_from_s") == F.col("r.ts_s"))
                    & (F.col("h.event_id") <= F.col("r.event_id"))
                )
            ),
            "left",
        ).groupBy("r.user_id", "r.attr", "r.ts_s", "r.event_id", "r.bucket").agg(
            F.max(
                F.struct(
                    F.col("h.valid_from_s").alias("t"),
                    F.col("h.event_id").alias("e"),
                    F.col("h.attr").alias("a"),
                )
            ).alias("__inforce")
        )
        # a record with NO in-force version (older than the key's first
        # version) left-joins to an all-null h row, and max(struct) of it
        # is a struct with null FIELDS, not a null struct — test the field
        return inforce.filter(
            F.col("__inforce.t").isNull()
            | (F.col("__inforce.a") != F.col("attr"))
        ).select(
            "user_id",
            "attr",
            "ts_s",
            "event_id",
            "bucket",
            F.when(F.col("__inforce.t").isNull(), "pre_history")
            .otherwise("out_of_order")
            .alias("reason"),
        )

    def merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        spark = batch_df.sparkSession
        present = self.exists()  # syncs n_buckets from meta BEFORE bucketing
        # cand persists (batch-bounded): unpersisted, the source slice was
        # re-read and re-bucketed for every consumer — the bucket collect,
        # the guard, the seen aggregate and the merge union (three to four
        # evaluations per batch, r14 phase profile; guide §5)
        cand = batch_df.select(
            "user_id", "attr", "ts_s", "event_id"
        ).withColumn(
            "bucket", F.pmod("user_id", F.lit(self.n_buckets)).cast("int")
        ).persist()
        released = [cand]
        buckets = [
            r.bucket for r in cand.select("bucket").distinct().collect()
        ]
        if not buckets:
            cand.unpersist()
            return
        hist = None
        if present:
            hist = (
                self._read_history(spark)
                .filter(F.col("bucket").isin(buckets))
                .persist()
            )
        try:
            if hist is not None:
                # violators persist (violation-sized, normally empty): the
                # emptiness check, the quarantine write and the merge's
                # anti-join each re-ran the whole guard otherwise
                violators = self.guard_plan(hist, cand).persist()
                released.append(violators)
                if not violators.isEmpty():
                    violators.write.mode("overwrite").parquet(
                        f"{self.quarantine_path}/batch_id={batch_id}"
                    )
                    cand = cand.join(
                        violators.select("user_id", "ts_s", "event_id"),
                        ["user_id", "ts_s", "event_id"],
                        "left_anti",
                    )
                    # violators may have been a bucket's only records —
                    # re-derive so untouched buckets stay byte-identical
                    buckets = [
                        r.bucket
                        for r in cand.select("bucket").distinct().collect()
                    ]
                    if not buckets:
                        return
            # per-key max DELIVERED position: safe batch records ∪ the
            # read-back rows' recorded positions (guard soundness — see
            # class docstring; quarantined records never advance it)
            seen_src = cand.select("user_id", "ts_s", "event_id")
            if hist is not None:
                prior = hist.select(
                    "user_id",
                    F.coalesce("seen_ts_s", "valid_from_s").alias("ts_s"),
                    F.coalesce("seen_event_id", "event_id").alias("event_id"),
                )
                seen_src = seen_src.unionByName(prior)
                old = hist.filter(F.col("bucket").isin(buckets)).select(
                    "user_id",
                    "attr",
                    F.col("valid_from_s").alias("ts_s"),
                    "event_id",
                    "bucket",
                )
                cand = cand.unionByName(old)
            seen = seen_src.groupBy("user_id").agg(
                F.max(
                    F.struct(
                        F.col("ts_s").alias("t"), F.col("event_id").alias("e")
                    )
                ).alias("__seen")
            )
            versioned = self.merge_plan(cand).join(seen, "user_id").select(
                "user_id",
                "attr",
                "version_n",
                "valid_from_s",
                "valid_to_s",
                "event_id",
                "bucket",
                "is_current",
                F.col("__seen.t").alias("seen_ts_s"),
                F.col("__seen.e").alias("seen_event_id"),
            )
            # One write job per batch (r14, guide §5): the merge result is
            # written to a staging sibling — a DIFFERENT path, so Spark's
            # read-and-overwrite restriction never applies and the eager
            # localCheckpoint that existed only to cut lineage from
            # self.path (a full extra materialization pass per micro-batch)
            # is gone — then each affected bucket directory is swapped in
            # with driver renames, its old files kept in a backup until
            # every bucket swapped; a failed swap is recovered by the
            # idempotent batch replay (see _swap_affected_buckets).
            self._swap_affected_buckets(versioned, buckets)
        finally:
            if hist is not None:
                hist.unpersist()
            for df in released:
                df.unpersist()
        if not present:
            _write_bucket_count(self.path, self.n_buckets)

    def _swap_affected_buckets(
        self, versioned: DataFrame, buckets: list[int]
    ) -> None:
        """Materialize the merge result ONCE and swap it in (r14,
        guide §5).

        The result is written partitioned-by-bucket to a staging
        sibling directory — a DIFFERENT path, so Spark's
        read-and-overwrite restriction never applies — and each
        affected bucket directory is then swapped into the store with a
        driver rename (local fs / HDFS: O(1) metadata op per bucket).
        This replaces the eager ``localCheckpoint`` + dynamic-partition
        overwrite, which cost one full extra materialization job per
        micro-batch: checkpoint the merge into block storage, then a
        second job re-reading the checkpointed blocks to write parquet.

        Each live bucket moves to a backup directory OUTSIDE the store
        path (a ``bucket=N.bak`` sibling inside it would be picked up by
        partition discovery as a string bucket value) before its staged
        replacement is renamed in (:func:`_rename_over`). A rename that
        raises moves that bucket's backup back, so the failed bucket
        reads as before; buckets already swapped hold the merged batch,
        and the idempotent batch replay converges both. Backups and
        staging are dropped only after every bucket swapped. A crash
        between a bucket's two renames leaves its old files in the
        backup directory. A fixed staging name keeps a crash-leftover
        from accumulating: the replay's ``overwrite`` reclaims it."""
        base = self.path.rstrip("/")
        staging, backups = base + "_staging", base + "_swapold"
        versioned.write.mode("overwrite").partitionBy("bucket").parquet(
            staging
        )
        shutil.rmtree(backups, ignore_errors=True)
        os.makedirs(backups)
        os.makedirs(self.path, exist_ok=True)
        for b in buckets:
            part = f"bucket={b}"
            _rename_over(
                os.path.join(self.path, part),
                os.path.join(staging, part),
                os.path.join(backups, part),
            )
        shutil.rmtree(backups)
        shutil.rmtree(staging)

    def needs_rebuild(self, spark: SparkSession) -> DataFrame:
        """Keys whose history is incomplete: distinct user_ids in the
        quarantine table. Empty DataFrame when nothing is flagged."""
        import glob

        if not glob.glob(os.path.join(self.quarantine_path, "batch_id=*")):
            return spark.createDataFrame([], "user_id BIGINT")
        return (
            spark.read.parquet(self.quarantine_path)
            .select("user_id")
            .distinct()
        )

    def rebuild_keys(self, spark: SparkSession, changelog: DataFrame) -> int:
        """Full-changelog rebuild of the flagged keys (VERDICT r10 #1):
        recompute exactly the quarantined users' histories from the
        authoritative changelog (columns ``user_id, attr, ts_s,
        event_id`` — the raw-event retention the delivery contract
        assumes for this case), splice them into the affected buckets,
        and clear the quarantine. Returns the number of rebuilt keys
        (bounded driver count — the flagged-key set, not the store).

        The rebuild IS :meth:`merge_plan` over the flagged keys' full
        changelogs — the same plan the ``lake_scd2_build`` batch query
        pins — so one code path defines the SCD2 semantics. Unflagged
        users sharing a bucket are carried over untouched."""
        from pyspark.sql import functions as F

        self.exists()  # sync n_buckets from meta before bucketing
        flagged = self.needs_rebuild(spark).persist()
        try:
            n = flagged.count()
            if n == 0:
                return 0
            recs = (
                changelog.select("user_id", "attr", "ts_s", "event_id")
                .join(F.broadcast(flagged), "user_id", "left_semi")
                .withColumn(
                    "bucket",
                    F.pmod("user_id", F.lit(self.n_buckets)).cast("int"),
                )
            )
            buckets = [
                r.bucket for r in recs.select("bucket").distinct().collect()
            ]
            seen = recs.groupBy("user_id").agg(
                F.max(
                    F.struct(
                        F.col("ts_s").alias("t"), F.col("event_id").alias("e")
                    )
                ).alias("__seen")
            )
            rebuilt = self.merge_plan(recs).join(seen, "user_id").select(
                "user_id",
                "attr",
                "version_n",
                "valid_from_s",
                "valid_to_s",
                "event_id",
                "bucket",
                "is_current",
                F.col("__seen.t").alias("seen_ts_s"),
                F.col("__seen.e").alias("seen_event_id"),
            )
            keep = (
                self._read_history(spark)
                .filter(F.col("bucket").isin(buckets))
                .join(F.broadcast(flagged), "user_id", "left_anti")
            )
            self._swap_affected_buckets(keep.unionByName(rebuilt), buckets)
        finally:
            flagged.unpersist()
        shutil.rmtree(self.quarantine_path)
        return n

    def resplit(self, spark: SparkSession, n_buckets: int) -> None:
        """Offline bucket-count evolution — same contract as
        :meth:`KeyedParquetSink.resplit` (stage to a sibling directory,
        swap in by :func:`_swap_in`); buckets here are
        ``pmod(user_id, n)``. Must run with the stream stopped.
        """
        from pyspark.sql import functions as F

        if not self.exists():
            raise RuntimeError(f"no bucketed store at {self.path}")
        if n_buckets == self.n_buckets:
            return
        self.n_buckets = int(n_buckets)
        df = self._read_history(spark).withColumn(
            "bucket", F.pmod("user_id", F.lit(self.n_buckets)).cast("int")
        )
        staged = self.path.rstrip("/") + ".resplit"
        df.write.mode("overwrite").partitionBy("bucket").parquet(staged)
        _swap_in(self.path, staged, self.n_buckets)

    def read(self, spark: SparkSession) -> DataFrame:
        return self._read_history(spark)
