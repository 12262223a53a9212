"""Structured Streaming surface.

The reference has NO streaming operators (SURVEY.md §2.10): its "online"
mode is synchronous request/response serving (infer_online.py:221-240).
We keep the batch pipeline pure and host it behind Structured Streaming
where a deployment needs it.  Events analytics:

* ``read_events_stream`` / ``run_stream_to_memory`` — a file stream
  over the events table and a synchronous availableNow driver for it;
* ``windowed_event_counts`` — event-time tumbling window aggregation
  with a watermark for late data (the same plan on batch and stream);
* ``sessionize_batch`` — gap-based sessionization (lag + cumsum), and
  ``sessionize_stateful``, its applyInPandasWithState streaming form;
* ``running_type_counts`` — arbitrary state across micro-batches;
* ``dedup_stream`` — watermark-bounded exact dedup of re-deliveries.

Documents:

* ``stream_mentions`` — foreachBatch hosting the (pure) mention
  pipeline: each micro-batch of documents runs the same
  segment->tag->extract dataflow as the batch engine, proving the
  serving path is "just another batch over a micro-partition"
  (SURVEY.md §1.3);
* five KG view maintainers on ONE loop, ``_maintain`` — the document
  stream (``DOCS_SCHEMA``), the snapshot-version base and read floor
  (``_version_base``), the foreachBatch run and the per-batch log —
  each passing only its own delta + merge step:
  ``stream_triples_upsert`` (MERGE-INTO triples),
  ``stream_degrees_ivm`` and ``stream_comention_ivm`` (additive count
  views), ``stream_pagerank_ivm`` and ``stream_communities_ivm``
  (warm-started fixed points over a maintained edge store).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)
DOCS_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


def read_events_stream(spark: SparkSession, path: str,
                       max_files_per_trigger: int = 1) -> DataFrame:
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def windowed_event_counts(events: DataFrame, window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Works on both batch and streaming DataFrames (same plan)."""
    e = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        e.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "n",
            "total",
        )
    )


def run_stream_to_memory(sdf: DataFrame, name: str, output_mode: str = "complete"):
    """Drive a finite file stream to completion synchronously (tests)."""
    q = (
        sdf.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """(user_id, session_id, n_events, t_start, t_end): a new session
    starts when the gap to the previous event exceeds ``gap_minutes``."""
    w = Window.partitionBy("user_id").orderBy("ts")
    # ts arrives as TIMESTAMP_NTZ from pandas-written parquet; go via
    # TIMESTAMP (session TZ is pinned UTC) to get epoch seconds
    sec = F.col("ts").cast("timestamp").cast("long")
    gap = sec - F.lag(sec).over(w)
    e = events.withColumn(
        "new_sess",
        F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0),
    ).withColumn(
        "session_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return e.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("t_start"),
        F.max("ts").alias("t_end"),
    )


def running_type_counts(events: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): running
    per-event_type count/total across micro-batches — the arbitrary-
    state shape (the reference has no streaming state; this is the
    scale-path primitive for e.g. running entity counters per repo)."""
    import pandas as pd

    def fn(key, pdfs, state):
        (etype,) = key
        # GroupState.get is a PROPERTY in pyspark (raises if absent)
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"event_type": [etype], "n": [n], "total": [round(total, 4)]}
        )

    # prune before the python stage: state ops don't push projection
    events = events.select("event_type", "value")
    return events.groupBy("event_type").applyInPandasWithState(
        fn,
        outputStructType="event_type string, n long, total double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def sessionize_stateful(events: DataFrame, gap_minutes: int = 30,
                        watermark: str = "2 hours") -> DataFrame:
    """Streaming gap-sessionization as a CUSTOM stateful operator
    (applyInPandasWithState + EventTimeTimeout) — the arbitrary-state
    analog of ``sessionize_batch``.

    Per user: events extend the open session while the gap stays
    within ``gap_minutes``; a larger gap CLOSES the session (emitted
    with user_id, n_events, t_start, t_end) and opens a new one.  The
    open session is emitted when the event-time watermark passes its
    end + gap (timeout eviction), so state size is bounded by the
    number of concurrently active users — the property that matters at
    scale.  Exactness condition (documented): events must arrive
    time-ordered per user across micro-batches (late-but-in-watermark
    reordering merges conservatively); the pytest proves closed-session
    equality with the batch formulation on an ordered stream.
    """
    import pandas as pd

    gap_s = gap_minutes * 60

    def out(uid, sessions):
        return pd.DataFrame(
            {
                "user_id": [uid] * len(sessions),
                "n_events": [s[0] for s in sessions],
                "t_start": [s[1] for s in sessions],
                "t_end": [s[2] for s in sessions],
            }
        )

    def fn(key, pdfs, state):
        (uid,) = key
        if state.hasTimedOut:
            n, t0, t1 = state.get  # property, raises if absent
            state.remove()
            yield out(uid, [(n, t0, t1)])
            return
        cur = state.get if state.exists else None
        closed = []
        for pdf in pdfs:
            for ts in sorted(pdf["ts"]):
                if cur is None:
                    cur = (1, ts, ts)
                elif (ts - cur[2]).total_seconds() > gap_s:
                    closed.append(cur)
                    cur = (1, ts, ts)
                else:
                    cur = (cur[0] + 1, cur[1], max(cur[2], ts))
        if cur is not None:
            state.update(cur)
            state.setTimeoutTimestamp(
                int(cur[2].timestamp() * 1000) + gap_s * 1000
            )
        if closed:
            yield out(uid, closed)

    e = events.select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    ).withWatermark("ts", watermark)
    return e.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=(
            "user_id bigint, n_events long, t_start timestamp, t_end timestamp"
        ),
        stateStructType="n long, t0 timestamp, t1 timestamp",
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )


def dedup_stream(events: DataFrame, key_cols=("event_id",),
                 watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup: first arrival per key wins, re-deliveries
    arriving within the watermark window are suppressed
    (``dropDuplicatesWithinWatermark``) — the streaming analog of the
    batch exact-dedup operator for at-least-once upstream delivery.

    State is BOUNDED: the store holds only keys newer than the
    event-time watermark and evicts the rest, so state size tracks the
    re-delivery horizon, not stream history — the property that keeps
    this viable at ingest-pipeline rates.  On a batch DataFrame the
    same call keeps the EARLIEST row per key (ties broken by the
    remaining columns ascending — a total, deterministic order;
    dropDuplicates would keep an arbitrary row and break batch/stream
    parity on the non-key columns).
    """
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            list(key_cols)
        )
    others = [c for c in events.columns if c not in key_cols]
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.asc(c) for c in ["ts"] + [c for c in others if c != "ts"]]
    )
    return (
        events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def stream_mentions(spark: SparkSession, docs_path: str, sink: list):
    """foreachBatch host for the pure mention pipeline: every
    micro-batch runs the same dataflow the batch engine runs."""
    from ..plans.kg import detect_mentions

    def process(src: DataFrame, epoch_id: int) -> None:
        m = detect_mentions(src, domain="doc", mode="rules")
        sink.append((epoch_id, m.count()))

    return _run_docs(spark, docs_path, None, process)


def _run_docs(spark: SparkSession, docs_path: str,
              checkpoint_location: str | None, process):
    """Stream the document files under ``docs_path`` one file per
    micro-batch, call ``process(src, epoch_id)`` on each batch's
    ``documents_as_source`` frame, and block until every available
    file is processed; returns the finished StreamingQuery."""
    from ..plans.kg import documents_as_source

    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_path)
    )
    w = stream.writeStream.foreachBatch(
        lambda batch_df, epoch_id: process(documents_as_source(batch_df),
                                           epoch_id)
    )
    if checkpoint_location:
        w = w.option("checkpointLocation", checkpoint_location)
    q = w.trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def _maintain(spark: SparkSession, docs_path: str, store_path: str,
              checkpoint_location: str | None, step) -> list:
    """The one maintenance loop behind every ``stream_*`` view
    maintainer: each micro-batch calls ``step(src, version, at_least,
    epoch_id)``, where ``src`` is the batch's document source,
    ``version`` the snapshot slot it writes (``_version_base`` +
    epoch) and ``at_least`` the read floor (None with a checkpoint, the
    base without one — so a rebuild never merges the old head).
    Returns the per-batch log: ``step``'s results in epoch order."""
    base = _version_base(spark, store_path, checkpoint_location)
    at_least = None if checkpoint_location else base
    log: list = []

    def process(src: DataFrame, epoch_id: int) -> None:
        log.append(step(src, base + epoch_id, at_least, epoch_id))

    _run_docs(spark, docs_path, checkpoint_location, process)
    return log


def _version_base(spark: SparkSession, store_path: str,
                  checkpoint_location: str | None) -> int:
    """Snapshot-version slot base for one maintenance run.

    WITH a checkpoint, Spark persists the processed-file log AND the
    epoch counter, so epoch ids are globally unique across invocations
    and only NEW files process — versions key directly off the epoch
    (base 0) and a resumed run merges incrementally onto the previous
    head.  WITHOUT one (one-shot/test mode), a re-run restarts epochs
    at 0 and REPROCESSES every input file, so the run is a REBUILD:
    its versions must land strictly above the existing head
    (base = head + 1) and its reads are floored at the base
    (read_snapshot at_least=base) so the old head is never merged into
    the re-derived view — merging would double-apply additive deltas.

    Store-checkpoint PAIRING contract (enforced loudly): a checkpointed
    run against a store that already has committed versions but whose
    checkpoint has no progress yet can only mean the store was
    populated by a DIFFERENT run (e.g. a checkpoint-less rebuild) —
    its fresh epochs would restart at 0 while read_snapshot(below=N)
    picks up the stale head for every epoch >= head, double-merging
    additive deltas.  That mismatch raises instead of corrupting the
    view: pair a checkpointed stream with the store it built, or start
    it on a fresh store.
    """
    from .snapshot import latest_committed_version

    head = latest_committed_version(spark, store_path)
    if not checkpoint_location:
        return 0 if head is None else head + 1
    if head is not None and not _checkpoint_has_progress(
        spark, checkpoint_location
    ):
        raise ValueError(
            f"store {store_path!r} already holds committed version "
            f"v{head} but checkpoint {checkpoint_location!r} has no "
            "progress: the store was populated by a different "
            "(checkpoint-less rebuild?) run. Resume with the store's "
            "original checkpoint, or use a fresh store."
        )
    return 0


def _checkpoint_has_progress(spark: SparkSession,
                             checkpoint_location: str) -> bool:
    """True iff the checkpoint has recorded at least one batch offset
    (i.e. this is a RESUME of the stream that built the store)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{checkpoint_location}/offsets")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(p)) and len(fs.listStatus(p)) > 0


def _commit_stamp(epoch_id: int):
    """The ``commit`` column of one batch's triples: the epoch at a
    fixed width (that of the snapshot ``v%010d`` slots), so string
    order is epoch order — the ``upsert`` merge keeps the largest
    stamp, and a checkpointed stream's epochs keep counting across
    runs (a 5-digit stamp would rank epoch 100000 below 99999)."""
    return F.format_string("e%010d", F.lit(epoch_id))


def _comention_delta(src: DataFrame, store_path: str, version: int,
                     at_least: int | None) -> None:
    """Write the (a, b, n_docs) co-mention pairs of one batch's
    documents as an additive delta version of ``store_path``."""
    from ..operators.graph import comention_edges
    from ..plans.kg import detect_mentions
    from .snapshot import write_delta

    m = detect_mentions(src, domain="doc", mode="rules")
    delta = comention_edges(m).select(
        "a", "b", F.col("n_docs").cast("bigint").alias("n_docs")
    )
    write_delta(
        delta, store_path, version,
        merge={"kind": "additive", "keys": ["a", "b"], "sums": ["n_docs"]},
        at_least=at_least,
    )


def stream_triples_upsert(spark: SparkSession, docs_path: str,
                          store_path: str,
                          checkpoint_location: str | None = None) -> int:
    """Incremental KG maintenance under Structured Streaming: every
    micro-batch of documents re-runs the triple pipeline for ITS docs
    and MERGEs the result into the versioned snapshot store with
    upsert_triples — the streaming shape of the north_star's resumable
    maintenance loop.

    Each batch persists ONLY its delta (the batch's triples, the
    touched-key set of the MERGE) via snapshot.write_delta — per-batch
    write cost is O(batch), not O(store) (the r4-verdict scale fix: a
    0.1 % batch against a 100 TB store writes ~100 GB, not 100 TB).
    Readers resolve MERGE-INTO semantics through the manifest's
    ``upsert`` merge spec (latest commit wins per (subj, pred, obj) —
    associative max-struct, so the read-side fold equals the iterated
    per-batch upsert_triples exactly); write_delta auto-compacts once
    the chain reaches max_chain, bounding read amplification.  The
    manifest commit is atomic; an at-least-once replay of an epoch
    resolves the same predecessor chain and rewrites the same version
    slot, so the loop is idempotent.  With an Iceberg/Delta store this
    is literally MERGE INTO + snapshot expiration.  Returns the number
    of micro-batches processed.
    """
    from ..operators.upsert import TRIPLE_KEY
    from ..plans.kg import build_triples
    from .snapshot import write_delta

    cols = ["subj", "pred", "obj", "repo", "content_sha"]

    def step(src, version, at_least, epoch_id):
        inc = (
            build_triples(src, domain="doc", mode="rules")
            .select(*cols).distinct()
            .withColumn("commit", _commit_stamp(epoch_id))
        )
        write_delta(
            inc, store_path, version,
            merge={"kind": "upsert", "keys": list(TRIPLE_KEY),
                   "version_col": "commit"},
            at_least=at_least,
        )

    return len(_maintain(spark, docs_path, store_path, checkpoint_location,
                         step))


def stream_degrees_ivm(spark: SparkSession, docs_path: str,
                       store_path: str,
                       checkpoint_location: str | None = None) -> int:
    """Incremental view maintenance (IVM) of the node-degree view under
    Structured Streaming: each micro-batch contributes only its DELTA
    (per-node edge counts from ITS documents' triples), which is
    merged additively into the degrees store — the degrees view stays
    current without ever recomputing over the full corpus.

    This is the maintenance pattern that matters at 100 TB: the batch
    recompute scans the whole triples table per refresh, while the IVM
    loop writes ONLY the batch's per-node count delta
    (snapshot.write_delta, merge='additive') — per-batch I/O follows
    the batch's documents, never the corpus OR the store.  Readers
    fold base + deltas with groupBy(node).sum(deg) (sum is
    associative, so the fold equals the iterated merge exactly);
    chains auto-compact at max_chain.  A replayed epoch resolves the
    same predecessor chain (``below=epoch``), so additive counts are
    never double-applied.  Counts are additive, so the final store
    equals the batch-computed degrees exactly (asserted e2e in tests).
    Returns the number of micro-batches processed.
    """
    from ..plans.kg import build_triples
    from .snapshot import write_delta

    def step(src, version, at_least, epoch_id):
        t = build_triples(src, domain="doc", mode="rules")
        delta = (
            t.select(F.col("subj").alias("node"))
            .union(t.select(F.col("obj").alias("node")))
            .groupBy("node").agg(F.count("*").cast("bigint").alias("deg"))
        )
        write_delta(
            delta, store_path, version,
            merge={"kind": "additive", "keys": ["node"], "sums": ["deg"]},
            at_least=at_least,
        )

    return len(_maintain(spark, docs_path, store_path, checkpoint_location,
                         step))


def stream_pagerank_ivm(spark: SparkSession, docs_path: str,
                        edges_store: str, ranks_store: str,
                        tol: float = 1e-9, damping: float = 0.85,
                        checkpoint_location: str | None = None) -> list:
    """Incremental PageRank maintenance under Structured Streaming —
    the IVM pattern extended from additive degree counts to a
    fixed-point computation.

    Per micro-batch: (1) the batch's triples contribute DELTA edges,
    persisted as a delta version of the edge snapshot store
    (write_delta, merge='distinct' — O(batch) write, readers fold the
    chain with set union); (2) PageRank re-converges over the merged
    edge set WARM-STARTED from the previous rank snapshot
    (pagerank_converged: the update is an L1 contraction, so the warm
    start reaches the same unique fixed point in far fewer rounds than
    a cold start — that round saving is the IVM win, returned per
    batch); (3) the RANK store advances via full snapshot writes by
    design: a fixed point is a function of the whole edge set, not a
    mergeable per-batch contribution, so O(nodes) per refresh is the
    honest floor (and the rank vector is ~node-count-sized, orders
    smaller than the edge/triple stores).

    Returns [(epoch, n_rounds), ...] — the e2e test asserts the final
    ranks equal the batch computation AND that warm-started batches
    converge in fewer rounds than the batch cold start.
    """
    from ..operators.graph import pagerank_converged
    from ..plans.kg import build_triples
    from .snapshot import read_snapshot, write_delta, write_snapshot

    def step(src, v, at_least, epoch_id):
        t = build_triples(src, domain="doc", mode="rules")
        delta = t.select(F.col("subj").alias("src"),
                         F.col("obj").alias("dst")).distinct()
        write_delta(delta, edges_store, v, merge={"kind": "distinct"},
                    at_least=at_least)
        # the previous RANK vector only warm-starts; reading an older
        # run's ranks is always safe (any init converges)
        prev_r = read_snapshot(spark, ranks_store, below=v)
        ranks, n_rounds = pagerank_converged(
            read_snapshot(spark, edges_store, below=v + 1, at_least=at_least),
            tol=tol, damping=damping, init_ranks=prev_r,
        )
        write_snapshot(ranks, ranks_store, v)
        return epoch_id, n_rounds

    return _maintain(spark, docs_path, edges_store, checkpoint_location, step)


def stream_comention_ivm(spark: SparkSession, docs_path: str,
                         store_path: str,
                         checkpoint_location: str | None = None) -> int:
    """Incremental maintenance of the co-mention edge view (the input
    of the PMI / LPA / k-core analytics tier): each micro-batch
    contributes the (a, b, n_docs) pairs of ITS documents, merged
    additively into the versioned snapshot store.

    Additivity holds because co-mention pairs are PER-DOCUMENT
    (operators/graph.comention_edges joins entities within one doc)
    and a document belongs to exactly one batch — so the maintained
    view equals the batch computation exactly (e2e test).  Each batch
    persists ONLY its (a, b, n_docs) delta (write_delta,
    merge='additive'); readers fold the chain with
    groupBy(a, b).sum(n_docs).  This is how the graph analytics stay
    current at ingest rates: per-batch I/O is bounded by the batch's
    documents, never the corpus or the store, and the downstream
    analytics (comention_pmi, label_propagation, kcore) run unchanged
    on the maintained view.  Returns the number of micro-batches
    processed.
    """
    def step(src, version, at_least, epoch_id):
        _comention_delta(src, store_path, version, at_least)

    return len(_maintain(spark, docs_path, store_path, checkpoint_location,
                         step))


def stream_communities_ivm(spark: SparkSession, docs_path: str,
                           edges_store: str, labels_store: str,
                           max_rounds: int = 25,
                           checkpoint_location: str | None = None) -> list:
    """Incremental LPA community maintenance under Structured Streaming
    — the fixed-point IVM pattern (stream_pagerank_ivm) applied to
    label propagation.

    Per micro-batch: (1) the batch's co-mention pairs are persisted as
    an additive DELTA of the versioned edge store (write_delta — the
    O(batch) write path); (2) lpa_converged re-runs over the full
    maintained edge view WARM-STARTED from the previous label
    snapshot; (3) labels advance via full snapshot writes by design —
    like a PageRank vector, a community labeling is a global function
    of the whole graph, not a mergeable per-batch contribution (and it
    is node-count-sized, orders smaller than the edge store).

    Guarantee boundary (lpa_converged docstring, gated in tests +
    Q:kg_lpa_inc_invariants): an UNCHANGED edge set re-confirms the
    previous labeling in exactly 1 round; a CHANGED graph converges to
    a valid deterministic labeling that need NOT equal the cold batch
    labeling (sync LPA has many fixed points; the start vector selects
    one — tie-break sensitivity).  The e2e test therefore asserts the
    guaranteed form: the final re-delivery batch (empty edge delta)
    changes nothing and costs 1 round.

    Returns [(epoch, n_rounds, converged), ...].
    """
    from ..operators.graph import lpa_converged
    from .snapshot import read_snapshot, write_snapshot

    def step(src, v, at_least, epoch_id):
        _comention_delta(src, edges_store, v, at_least)
        prev_l = read_snapshot(spark, labels_store, below=v)
        edges = read_snapshot(spark, edges_store, below=v + 1,
                              at_least=at_least)
        labels, n_rounds, converged = lpa_converged(
            edges, init_labels=prev_l, max_rounds=max_rounds
        )
        write_snapshot(labels, labels_store, v)
        return epoch_id, n_rounds, converged

    return _maintain(spark, docs_path, edges_store, checkpoint_location, step)
