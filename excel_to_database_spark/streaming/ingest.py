"""Structured Streaming surface (SURVEY.md §2.9): file-source ingest,
watermarked tumbling windows, stateful dedup, and streaming sheet→table
sync.

The reference is strictly batch (synchronous request → load,
app/home.py:16-48); these are the engine's streaming extensions. Batch
parity is by construction: every operator here is the incremental form
of a batch query in the inventory (windowed_counts ↔ q60), and
``trigger(availableNow=True)`` replays a directory as one bounded run —
that is how tests and the oracle compare streaming vs batch output.

Scale notes: file-source ingest scales by partitioned listing +
``maxFilesPerTrigger``; windowed aggs keep state bounded by the
watermark; dedup state is bounded by ``dropDuplicatesWithinWatermark``.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from excel_to_database_spark.operators.io_util import read_parquet
from excel_to_database_spark.sync.sinks import Destination, LocalDestination

# the canonical events schema (TESTDATA.md) — the fallback when the
# stream starts against a directory no file has landed in yet, where a
# footer probe has nothing to read
EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def read_events_stream(
    spark: SparkSession, path: str, schema=None
) -> DataFrame:
    """Stream the events table from a parquet directory, normalizing
    ``ts`` to a µs-precision TIMESTAMP under the pinned-UTC session —
    the streaming twin of the batch loader ``queries/base.t``.

    The file source needs a declared schema, so the existing data's
    schema is inferred first. Inference is a Spark job (a task reads
    the parquet footers; no row data is scanned). A single local file
    goes through :func:`~excel_to_database_spark.operators.io_util.read_parquet`,
    which remembers the result, so a restart on the unchanged file
    runs no job; a directory infers on every call. The same dtype
    guard as the batch path is then applied:

      * ``timestamp``/``timestamp_ntz`` (current testdata encodes
        TIMESTAMP(MICROS), isAdjustedToUTC=false) → cast to TIMESTAMP;
        under the UTC session the naive wall-clock is interpreted as
        UTC, exactly how the batch oracles read it.
      * legacy ``bigint`` (TIMESTAMP(NANOS) surfaced via
        ``nanosAsLong``) → ns→µs truncation, as before.

    Pass ``schema`` explicitly (DDL string or StructType) to skip the
    probe; when the directory exists but holds no files yet — the
    normal state when the stream starts before the first producer
    write — the probe falls back to :data:`EVENTS_SCHEMA` so the query
    can start and pick files up as they land.
    """
    import os

    # naive wall-clock == UTC instants, same contract as queries/base.py
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if schema is None:
        try:
            schema = read_parquet(spark, path).schema
        except AnalysisException:
            # path empty/missing at start-up (legal for a stream that
            # will pick files up as they land) → events contract.
            # Anything else (permissions, corrupt footer) re-raises:
            # silently substituting EVENTS_SCHEMA there would start a
            # misconfigured stream that yields zero rows.
            schema = EVENTS_SCHEMA
    reader = spark.readStream.schema(schema)
    if not os.path.isdir(path):
        # file source wants a directory: stream the parent, filtered
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    raw = reader.parquet(path)
    ts_type = dict(raw.dtypes).get("ts")
    if ts_type == "bigint":
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def windowed_counts(
    events: DataFrame, window: str = "10 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Watermarked tumbling-window counts per event type — the
    incremental form of q60_tumbling_window."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("bucket_start"),
            "event_type",
            "n_events",
        )
    )


def sessionized_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
    key: str = "user_id",
) -> DataFrame:
    """Watermarked SESSION-window aggregation per user — the
    incremental form of q66_session_window (built-in
    ``F.session_window``, 30-min inactivity gap). Sessions merge across
    micro-batches in the state store; the watermark bounds how long an
    open session can wait for a late event before it is finalized and
    its state evicted — the streaming twin of the batch gap-session
    semantics (new session iff gap ≥ the window duration).

    Emits (user_id, session_start epoch-seconds, n_events) — the same
    row contract as the batch q66 aggregation, so an availableNow
    replay is directly comparable."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), key)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key,
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            "n_events",
        )
    )


def stream_dedup(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Stateful exact dedup on event_id with watermark-bounded state."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_sync(
    df: DataFrame,
    table_name: str,
    destination: Destination | None = None,
    path: str | None = None,
    checkpoint: str = "/tmp/etds_stream_ckpt",
):
    """Streaming sheet→table sync: each micro-batch goes through the
    same Destination.sync policy as a batch upload (foreachBatch — the
    streaming form of the reference's per-request load)."""
    dest = destination or LocalDestination()

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            dest.sync(batch_df, table_name, path)

    return (
        df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_upsert(
    df: DataFrame,
    target_table: str,
    key: str | list[str],
    seq_col: str,
    checkpoint: str = "/tmp/etds_upsert_ckpt",
    partition_col: str | None = None,
):
    """Streaming MERGE: apply each micro-batch to ``target_table`` with
    the same anti-join + union upsert as the batch path (sync/merge).
    This is the incremental sheet→warehouse sync — late re-uploads of
    the same key update in place instead of duplicating.

    A batch can carry several versions of one key; ``seq_col`` (an
    event timestamp / version number carried in the data) decides which
    wins, so the result is deterministic under any partitioning or
    batch replay — never "arrival order", which a distributed source
    does not have. State stays bounded: nothing is held across batches
    except the target table itself (the lakehouse CDC-apply pattern;
    the checkpoint gives at-least-once batch replay, and the
    keyed merge makes that exactly-once on the table)."""
    from pyspark.sql.window import Window

    from excel_to_database_spark.sync.merge import merge_upsert

    keys = [key] if isinstance(key, str) else list(key)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        w = Window.partitionBy(*keys).orderBy(F.desc(seq_col))
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        merge_upsert(spark, target_table, latest, keys, partition_col=partition_col)

    return (
        df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _write_batch_keyed(out: DataFrame, out_table: str) -> None:
    """Exactly-once foreachBatch sink: ``out`` must carry a
    ``__batch_id`` column; that partition is dynamically overwritten,
    so a re-delivered micro-batch replaces its own rows instead of
    appending duplicates.

    The overwrite-mode conf is set on ``out``'s OWN session, not the
    caller's: a foreachBatch plan whose left/root frame is a
    batch-exterior asset (a persisted baseline, a loaded index) is
    rooted in the MAIN session while ``batch_df.sparkSession`` is the
    micro-batch CLONE — setting 'dynamic' on the clone would leave the
    write executing under the main session's default 'static' and
    silently wipe every earlier batch's partition (observed with
    stream_bucket_drift's baseline-rooted join)."""
    spark = out.sparkSession
    if spark.catalog.tableExists(out_table):
        cols = [f.name for f in spark.table(out_table).schema.fields]
        conf_key = "spark.sql.sources.partitionOverwriteMode"
        prev = spark.conf.get(conf_key, "static")
        spark.conf.set(conf_key, "dynamic")
        try:
            out.select(*cols).write.mode("overwrite").insertInto(out_table)
        finally:
            spark.conf.set(conf_key, prev)
        # replaced files invalidate any cached listing of the table
        spark.catalog.refreshTable(out_table)
    else:
        out.write.partitionBy("__batch_id").saveAsTable(out_table)


def stream_ann_probe(
    new_vecs: DataFrame,
    cents: DataFrame,
    assigned: DataFrame,
    out_table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
    checkpoint: str = "/tmp/etds_ann_probe_ckpt",
):
    """Continuous-ingest similarity search: each micro-batch of new
    embeddings probes a PERSISTED IVF index (centroids + corpus
    assignment from ``similarity.ivf_assign``/``ivf_assign_converged``)
    and appends its top-k corpus neighbors — the vector twin of
    ``stream_lsh_dedup``, e.g. online near-duplicate screening of
    freshly embedded documents against the training corpus.

    Same state story: the stream keeps NO Spark state — the IVF index
    IS the state, maintained by the batch index-build pipeline.
    Per-batch cost is |batch| · n_probe/n_lists of the corpus.  The
    sink is the batch-id-keyed dynamic overwrite, so replays are
    exactly-once on the table."""
    from excel_to_database_spark.operators.similarity import ivf_probe_index

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        q = batch_df.select(
            F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
        )
        out = ivf_probe_index(q, cents, assigned, k=k, n_probe=n_probe).withColumn(
            "__batch_id", F.lit(batch_id)
        )
        _write_batch_keyed(out, out_table)

    return (
        new_vecs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_rollup(
    events: DataFrame,
    out_table: str,
    bucket_seconds: int = 3600,
    checkpoint: str = "/tmp/etds_rollup_ckpt",
    compact_every: int | None = None,
    coarse_seconds: int = 86400,
    keep_recent_seconds: int = 86400,
):
    """Continuously-maintained hypertable partials (the streaming form
    of operators/rollup): each micro-batch appends ITS OWN time-bucket
    partial rows — counts, decimal sums, min/max, HLL sketch — keyed by
    batch id (exactly-once under replay). Raw events are scanned once,
    at ingest; any dashboard window is then answered by
    ``merge_partials`` over the table, which is valid precisely because
    a merge of partials is itself a partial (same-bucket rows from
    different batches collapse at read time, HLL unions being
    order-insensitive). No Spark streaming state at all — the partial
    table IS the state.

    ``compact_every=N`` runs the hypertable maintenance job inline
    every N micro-batches (the Timescale background-job shape):
    buckets older than ``keep_recent_seconds`` behind the table's max
    bucket collapse into ``coarse_seconds``-wide rows via
    ``rollup.compact_partials`` — answers at ≥ coarse width are
    bit-identical (merge of partials is a partial), row counts stay
    proportional to retained detail, and compaction touches ONLY the
    already-committed region: it runs before the batch's own write and
    pins the in-flight batch id (``exclude_batch``), so a
    crash-replay's partition overwrite can never re-insert rows that
    compaction already folded into ``__batch_id=-1`` — exactly-once
    holds even for late events older than the retention horizon."""
    from excel_to_database_spark.operators.rollup import (
        compact_partials,
        time_bucket_partials,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # compaction runs BEFORE this batch's write, over the already-
        # committed region only: rows of batch N itself (including
        # leftovers of a crashed prior attempt of N, pinned via
        # exclude_batch) are never folded into __batch_id=-1, so the
        # replay's dynamic partition overwrite can never re-insert
        # rows compaction already absorbed — exactly-once holds even
        # for late events bucketed behind the retention horizon.
        if (
            compact_every
            and batch_id > 0
            and batch_id % compact_every == 0
            and spark.catalog.tableExists(out_table)
        ):
            frontier = (
                spark.table(out_table)
                .filter(F.col("__batch_id") != batch_id)
                .agg(F.max("bucket_start"))
                .collect()[0][0]
            )
            if frontier is not None:
                compact_partials(
                    spark,
                    out_table,
                    before_bucket=int(frontier) - keep_recent_seconds,
                    coarse_seconds=coarse_seconds,
                    exclude_batch=batch_id,
                )
        out = time_bucket_partials(batch_df, bucket_seconds).withColumn(
            "__batch_id", F.lit(batch_id)
        )
        _write_batch_keyed(out, out_table)

    return (
        events.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_lsh_dedup(
    new_docs: DataFrame,
    corpus_index: DataFrame,
    out_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    checkpoint: str = "/tmp/etds_lsh_dedup_ckpt",
):
    """Continuous-ingest near-dup screening: each micro-batch of new
    documents is shingled, MinHash-signed, banded, and probed against
    the persisted corpus band index (operators/dedup.band_index) —
    the streaming form of the q133 incremental dedup. Appends
    (doc_new, n_corpus_dups) rows to ``out_table`` per batch.

    State story at 100 TB: the stream itself keeps NO Spark state —
    the corpus index is the state, and it lives as a table the batch
    ingest pipeline maintains. Per-batch cost is O(|batch| bands) join
    probes plus collision volume, independent of corpus size.

    Exactly-once on the table: foreachBatch is at-least-once (a batch
    can be re-delivered after a failure), and a deterministic
    recomputation does NOT make a blind append idempotent — the same
    rows would land twice. The sink therefore keys the output by
    ``__batch_id`` partition and dynamically OVERWRITES that one
    partition per delivery: a replay of batch N replaces batch N's
    rows instead of duplicating them. (After a replay, readers in
    OTHER sessions should ``spark.catalog.refreshTable(out_table)`` —
    the sink refreshes its own micro-batch session only.)"""
    from excel_to_database_spark.operators import dedup as D

    rows = num_hashes // bands

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sig = D.minhash_signatures(
            D.shingles(batch_df, id_col, text_col, n), num_hashes
        )
        out = (
            D.lsh_matches_against_index(sig, corpus_index, bands, rows)
            .groupBy("doc_new")
            .agg(F.countDistinct("doc_corpus").alias("n_corpus_dups"))
            .withColumn("__batch_id", F.lit(batch_id))
        )
        _write_batch_keyed(out, out_table)

    return (
        new_docs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup_clusters(
    new_docs: DataFrame,
    index_path: str,
    labels_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    checkpoint: str = "/tmp/etds_dedup_clusters_ckpt",
):
    """Continuously-maintained duplicate-CLUSTER labels — the q100
    connected-components contract kept incrementally current as
    documents stream in, never recomputed from scratch. Per
    micro-batch:

      1. sign + band the batch with the persisted text-LSH index's own
         parameters (the index is created from the first batch);
      2. candidate pairs = batch bands probed against the CORPUS index
         (new↔corpus) plus the in-batch band join (new↔new) — together
         exactly the collisions a from-scratch run over the full
         corpus would produce, which is what makes stream ≡ batch;
      3. ``dedup_cluster_update``: a driver-small union-find over the
         touched component labels merges clusters through the
         persisted canon forest, and the batch's docs append to the
         label table;
      4. the batch's bands append to the index.

    State story at 100 TB: no Spark streaming state — the band index
    and the (labels, canon) tables ARE the state, all maintained with
    |batch|-proportional work. ``dedup_cluster_labels(labels_path)``
    reads the current labels at any time; its per-doc min-aggregation
    also makes a replayed batch's duplicate label rows collapse, so
    label reads stay correct under foreachBatch's at-least-once
    delivery."""
    from pyspark.errors import AnalysisException

    from excel_to_database_spark.operators import dedup as D

    rows = num_hashes // bands

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        sig = D.minhash_signatures(
            D.shingles(batch_df, id_col, text_col, n), num_hashes
        )
        within = D.lsh_candidates(sig, bands, rows)
        # label update runs BEFORE the index append, so the corpus
        # probe provably never sees this batch's own bands (a lazy
        # parquet read may or may not re-list appended files — the
        # explicit ordering removes the ambiguity; in-batch pairs come
        # from the dedicated band join above)
        from excel_to_database_spark.operators.io_util import maybe_read_parquet

        index = maybe_read_parquet(spark, f"{index_path}/bands")
        if index is not None:
            vs_corpus = D.lsh_matches_against_index(
                sig, index, bands, rows
            ).select(
                F.col("doc_new").alias("doc_a"),
                F.col("doc_corpus").alias("doc_b"),
            )
            pairs = within.unionByName(vs_corpus)
        else:
            pairs = None
        D.dedup_cluster_update(
            spark, labels_path, batch_df.select(id_col),
            pairs if pairs is not None else within,
        )
        if pairs is None:
            D.build_lsh_text_index(
                batch_df, id_col, text_col, index_path,
                n=n, num_hashes=num_hashes, bands=bands, rows=rows,
            )
        else:
            D.lsh_text_index_append(
                spark, index_path, batch_df, id_col, text_col
            )

    return (
        new_docs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


#: memory-sink view names created by run_stream_to_memory. The sink's
#: rows live until BOTH the catalog entry and every plan reference are
#: gone — a long session that never drops these views retains every
#: streamed result forever (measured: the bench's headline phase left
#: enough sink data in the shared local-mode heap to GC-thrash the
#: first queries of the slope suite). caching.deep_evict drains this.
_MEMORY_SINKS: list[str] = []


#: throwaway checkpoint dirs created by bounded replays. Each replay
#: best-effort-deletes its own checkpoint right after termination (a
#: long session driving many replays must not accumulate RAM-backed
#: tmpfs); ``deep_evict`` remains the backstop that reaps anything a
#: late RocksDB maintenance thread re-created, after the state-store
#: providers are unloaded.
_EPHEMERAL_CKPTS: list[str] = []

#: serializes bounded replays: run_stream_to_memory temporarily
#: rewrites session-global confs (shuffle-partition cap + RocksDB
#: tmpfs localRootDir) around the replay, and two interleaved replays
#: would clobber each other's restores. NOTE the lock only covers
#: replays — starting a DURABLE stream from another thread during a
#: replay window would still inherit the tmpfs RocksDB root (state
#: bigger than /dev/shm fails it); don't do that.
import threading as _threading

_REPLAY_LOCK = _threading.Lock()

#: progress events (JSON strings) of the MOST RECENT bounded replay —
#: written after awaitTermination under _REPLAY_LOCK, read by
#: scripts/profile_stream.py to decompose the micro-batch lifecycle
#: into durationMs shares (round-17 verdict #4). Purely observational.
_LAST_PROGRESS: list[str] = []


def _fast_scratch_root() -> str | None:
    """tmpfs root for ephemeral replay state, or None to let Spark
    default. A bounded availableNow replay's checkpoint is write-only
    throwaway metadata, yet every offset/commit-log write and every
    RocksDB snapshot upload into it is fsync'd — on tmpfs those
    fsyncs are free. Durable streams (user-supplied checkpoints) are
    unaffected; only the temp-checkpoint replay path routes here."""
    import os

    root = "/dev/shm"
    return root if os.path.isdir(root) and os.access(root, os.W_OK) else None


def run_stream_to_memory(
    spark: SparkSession, stream_df: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drive a streaming frame to a memory sink with availableNow and
    return the materialized result (bounded replay for tests/oracles).
    The sink view is registered for ``deep_evict`` cleanup — dropping
    the view later does not invalidate the returned DataFrame (it
    holds the plan), it only makes the rows collectable once the
    caller lets the frame go.

    Replay fixed costs are trimmed here, once, for every bounded
    replay (measured on the typed-state family, where they dominate):

    * the throwaway checkpoint goes on tmpfs (see
      :func:`_fast_scratch_root`) instead of Spark's disk temp dir,
      and the RocksDB working dir follows it — the per-commit
      snapshot zip + fsync was the largest addBatch slice;
    * state partitions are capped at 16 for the replay: a bounded
      replay's state-store instance count is pure per-task fixed cost
      (open + commit per instance per batch), and 16 was the measured
      knee for 32 local cores. Sessions configured below the cap keep
      their setting; results are partition-count-independent (every
      registered stateful op folds commutatively, and the oracles
      verify it at a different count than bench runs)."""
    import shutil
    import uuid

    scratch = _fast_scratch_root()
    writer = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    conf_parts = "spark.sql.shuffle.partitions"
    conf_rocks = "spark.sql.streaming.stateStore.rocksdb.localRootDir"
    ckpt = None
    with _REPLAY_LOCK:
        prev_parts = spark.conf.get(conf_parts)
        cap = min(int(prev_parts), 16)
        prev_rocks = spark.conf.get(conf_rocks, None)
        if scratch is not None:
            ckpt = f"{scratch}/etds_replay_ckpt/{name}_{uuid.uuid4().hex}"
            writer = writer.option("checkpointLocation", ckpt)
            _EPHEMERAL_CKPTS.append(ckpt)
            rocks = f"{scratch}/etds_replay_rocksdb"
            spark.conf.set(conf_rocks, rocks)
            if rocks not in _EPHEMERAL_CKPTS:
                _EPHEMERAL_CKPTS.append(rocks)  # scratch RAM freed with ckpts
        spark.conf.set(conf_parts, str(cap))
        try:
            q = writer.start()
            q.awaitTermination()
            # round-17 profiling hook (no behavior change): keep the
            # terminated replay's progress events so a profiler can
            # decompose the micro-batch lifecycle's wall clock into
            # durationMs shares (scripts/profile_stream.py) without
            # re-instrumenting every query
            try:
                _LAST_PROGRESS[:] = [p.json for p in q.recentProgress]
            except Exception:
                _LAST_PROGRESS[:] = []
        finally:
            # restore BOTH confs: the replay must not redirect a durable
            # stream's RocksDB working set into tmpfs (state bigger than
            # /dev/shm would fail it), nor leak the partition cap
            spark.conf.set(conf_parts, prev_parts)
            if scratch is not None:
                if prev_rocks is None:
                    spark.conf.unset(conf_rocks)
                else:
                    spark.conf.set(conf_rocks, prev_rocks)
        if ckpt is not None:
            # reclaim the RAM-backed checkpoint NOW (the query has
            # terminated); ignore_errors because a RocksDB maintenance
            # thread may still be finishing a snapshot upload — the
            # _EPHEMERAL_CKPTS entry lets deep_evict reap any remnant
            # after the providers unload.
            shutil.rmtree(ckpt, ignore_errors=True)
    _MEMORY_SINKS.append(name)
    return spark.table(name)


def stream_ann_pq_probe(
    new_vecs: DataFrame,
    index_path: str,
    out_table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
    rerank: int = 0,
    checkpoint: str = "/tmp/etds_ann_pq_probe_ckpt",
):
    """Continuous-ingest ANN against the PERSISTED IVF-PQ index
    (similarity.build_ivf_pq_index's on-disk layout): each micro-batch
    probes the compressed index — coarse prune to n_probe cells, ADC
    scoring through the broadcast LUT, optional exact rerank — and
    appends its top-k. The compressed twin of ``stream_ann_probe``:
    candidates are scored from PQ CODES (one equi-join row each, no
    vector math), which is what keeps a per-batch probe cheap when the
    indexed corpus is billions of rows. The index is loaded once at
    stream construction and incrementally maintained by the batch
    pipeline (``ivf_pq_index_append``); restarting the stream picks up
    appended vectors. No Spark state; batch-id-keyed writes make
    replays exactly-once."""
    from excel_to_database_spark.operators.similarity import (
        ann_ivf_pq_probe,
        load_ivf_pq_index,
    )

    spark = new_vecs.sparkSession
    index = load_ivf_pq_index(spark, index_path)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        q = batch_df.select(
            F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
        )
        out = ann_ivf_pq_probe(
            index, k=k, n_probe=n_probe, rerank=rerank, queries=q
        ).withColumn("__batch_id", F.lit(batch_id))
        _write_batch_keyed(out, out_table)

    return (
        new_vecs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_bucket_drift(
    obs: DataFrame,
    baseline: DataFrame,
    out_table: str,
    bucket_col: str = "b",
    group_col: str | None = None,
    threshold: float = 0.1,
    checkpoint: str = "/tmp/etds_drift_ckpt",
):
    """Continuous drift monitoring: every micro-batch's bucket
    distribution compares against a PERSISTED baseline counts table
    and appends one (``__batch_id``, group?, n_old, n_new,
    tv_distance, drifted) row per group — the alert feed a
    continuously-ingesting pipeline watches to catch a crawl or
    upstream schema change SHIFTING the data before it contaminates
    the mixture.

    ``obs`` is the streaming frame carrying ``bucket_col`` (and
    ``group_col``) per observation — bucketing is done upstream with
    the same expressions as the batch path (hashed unigrams, quantized
    numerics). ``baseline`` is the asset: a bounded
    (group?, bucket, c_old) counts table built by the batch pipeline
    (``bucket_drift``'s input aggregation), loaded once and reused
    every batch. Same state story as ``stream_ann_probe``: the stream
    keeps NO Spark state — the baseline table IS the state; per-batch
    cost is one |batch| aggregation plus a join bounded by
    groups×buckets. The distance/verdict math is literally
    ``text.tv_from_counts`` — integer-exact, identical to the batch
    q172/q174 path. Exactly-once via the batch-id-keyed sink."""
    from excel_to_database_spark.operators.text import tv_from_counts

    from excel_to_database_spark.operators.caching import pin

    g = [group_col] if group_col else []
    # Cache the baseline so each micro-batch's join reads the cached
    # blocks instead of re-running the upstream aggregation/scan every
    # trigger (the docstring's "loaded once" claim, made true after
    # the first batch). pin (persist), NOT localCheckpoint: a
    # checkpoint truncates lineage into non-recomputable blocks, so a
    # long-running production stream would die permanently on the
    # first executor loss — the cache self-heals by recomputation.
    base = pin(
        baseline.select(
            *g, F.col(bucket_col), F.col("c_old").cast("bigint").alias("c_old")
        )
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        bc = batch_df.groupBy(*g, bucket_col).agg(
            F.count(F.lit(1)).alias("c_new")
        )
        per = (
            base.join(bc, [*g, bucket_col], "full")
            .withColumn("c_old", F.coalesce("c_old", F.lit(0)))
            .withColumn("c_new", F.coalesce("c_new", F.lit(0)))
        )
        out = (
            tv_from_counts(per, group_col=group_col, threshold=threshold)
            # a group absent from one side has no distribution to
            # compare (0/0): report only groups both sides observed —
            # a brand-new group is its own alert, not a TV number
            .filter((F.col("n_old") > 0) & (F.col("n_new") > 0))
            .withColumn("__batch_id", F.lit(batch_id))
        )
        _write_batch_keyed(out, out_table)

    return (
        obs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_media_dedup(
    new_media: DataFrame,
    corpus_fp: DataFrame,
    out_table: str,
    max_distance: int = 3,
    checkpoint: str = "/tmp/etds_media_dedup_ckpt",
):
    """Continuous-ingest IMAGE near-dup screening: each micro-batch of
    media rows (the ``attach_payload`` schema) is perceptual-hashed in
    the Arrow decode seam (``multimodal.image_ahash``) and probed
    against the persisted corpus fingerprint table via the pigeonhole
    band join (``dedup.simhash_matches_between``) — the multimodal
    member of the streaming dedup family next to ``stream_lsh_dedup``
    (text MinHash). Appends ``(doc_new, n_corpus_dups)`` per batch.

    State story at 100 TB: identical to stream_lsh_dedup — the stream
    keeps NO Spark state; the fingerprint table IS the state, and the
    batch pipeline maintains it. Per-batch probe cost is
    O(|batch| · bands) plus collision volume, independent of corpus
    size. Exactly-once via the shared batch-id-keyed sink."""
    from excel_to_database_spark.operators import dedup as D
    from excel_to_database_spark.operators import multimodal as M

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        fp = M.image_ahash(batch_df)
        out = (
            D.simhash_matches_between(
                fp, corpus_fp, max_distance=max_distance, bits=64
            )
            .groupBy("doc_new")
            .agg(F.countDistinct("doc_corpus").alias("n_corpus_dups"))
            .withColumn("__batch_id", F.lit(batch_id))
        )
        _write_batch_keyed(out, out_table)

    return (
        new_media.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
