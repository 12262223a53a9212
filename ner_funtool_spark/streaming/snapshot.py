"""Versioned snapshot store for streaming view maintenance.

The foreachBatch maintenance loops (stream_triples_upsert,
stream_degrees_ivm, ...) read the current store AND write its successor
in the same micro-batch.  Writing in place would make the job read its
own output; the r3 workaround — materializing the merged store through
the driver with toPandas() — is a driver OOM at scale (the whole store
through one process per batch).

This module implements the snapshot pattern every table format
(Iceberg/Delta) uses under the hood, in two write shapes:

* **full snapshot** (``write_snapshot``): the version directory
  ``store/v{n:010d}`` holds the complete view; Spark's job committer
  places its ``_SUCCESS`` marker atomically at job commit — the marker
  IS the manifest, so a crashed/partial write is never visible.
* **delta version** (``write_delta`` — the r4-verdict scale fix): the
  version directory holds only the batch's DELTA rows under
  ``v{n}/delta`` plus a tiny ``manifest.json`` naming the chain
  ``{base full version, ordered delta versions, merge spec}``.  The
  manifest (written AFTER the delta job commits, via tmp + atomic
  rename) is the commit marker for delta versions.  Per-batch I/O is
  then O(delta), not O(store): a 0.1 % batch against a 100 TB store
  writes ~100 GB, not 100 TB.

Readers (``read_snapshot``) resolve the highest committed version; a
delta head is reconstructed by unioning base + deltas and applying the
manifest's merge spec — the merges used here are all ASSOCIATIVE
(additive sum, latest-per-key max-struct, distinct union), so the
read-side fold equals the per-batch iterated merge exactly (asserted in
tests).  ``write_delta`` compacts automatically once a chain reaches
``max_chain`` (the batch writes the folded FULL view instead), bounding
read amplification; ``compact_snapshot`` folds on demand between runs.

Epoch replays (at-least-once foreachBatch delivery) rewrite the same
version directory, resolving the SAME predecessor chain (``below=``),
so the loop stays idempotent.  All filesystem operations go through the
Hadoop FileSystem API, so the same code runs on file://, hdfs:// and
s3a:// (on S3, committers that skip _SUCCESS must enable it —
mapreduce.fileoutputcommitter has it on by default).

Retention contract: pruning keeps the ``keep`` newest committed heads
PLUS every version their chains reference (a delta head keeps its base
alive).  A reader pinned at head v therefore stays correct while the
writer commits up to ``keep - 1`` further versions; hold longer reads
only with ``keep`` sized to the read horizon (tests pin this).
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession

_VERSION_RE = re.compile(r"^v(\d{10})$")

MANIFEST = "manifest.json"
DELTA_SUBDIR = "delta"


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath, jvm


def _version_dir(store_path: str, version: int) -> str:
    return f"{store_path.rstrip('/')}/v{version:010d}"


def _is_committed(fs, jvm, vpath) -> tuple[bool, str]:
    """(committed, kind) for a version directory: a FULL version commits
    via the job committer's _SUCCESS; a DELTA version commits via its
    manifest (which is only renamed into place after delta/_SUCCESS)."""
    if fs.exists(jvm.org.apache.hadoop.fs.Path(vpath, MANIFEST)):
        delta_ok = fs.exists(
            jvm.org.apache.hadoop.fs.Path(vpath, f"{DELTA_SUBDIR}/_SUCCESS")
        )
        return delta_ok, "delta"
    return bool(
        fs.exists(jvm.org.apache.hadoop.fs.Path(vpath, "_SUCCESS"))
    ), "full"


def _list_versions(spark: SparkSession, store_path: str):
    """[(version:int, committed:bool, kind:'full'|'delta')] ascending."""
    fs, root, jvm = _fs_and_path(spark, store_path)
    if not fs.exists(root):
        return []
    out = []
    for status in fs.listStatus(root):
        if not status.isDirectory():
            continue
        m = _VERSION_RE.match(status.getPath().getName())
        if not m:
            continue
        ok, kind = _is_committed(fs, jvm, status.getPath())
        out.append((int(m.group(1)), ok, kind))
    return sorted(out)


def latest_committed_version(spark: SparkSession, store_path: str,
                             below: int | None = None,
                             at_least: int | None = None):
    """Highest committed version number (optionally bounded to
    ``at_least <= v < below``), or None when no committed snapshot in
    range exists.  A missing store directory is 'no snapshot'; any
    OTHER filesystem error propagates (a half-readable store must fail
    the batch loudly, not silently restart the view from empty)."""
    committed = [
        v for v, ok, _ in _list_versions(spark, store_path)
        if ok and (below is None or v < below)
        and (at_least is None or v >= at_least)
    ]
    return committed[-1] if committed else None


def _write_manifest(spark: SparkSession, store_path: str, version: int,
                    manifest: dict) -> None:
    """Atomic manifest publish: write to a tmp name, delete any stale
    manifest, rename into place (rename is atomic on HDFS/file://; the
    delete+rename window shows the version as UNCOMMITTED — a reader
    then falls back to the predecessor, never to a torn manifest)."""
    fs, _, jvm = _fs_and_path(spark, store_path)
    vdir = _version_dir(store_path, version)
    tmp = jvm.org.apache.hadoop.fs.Path(vdir, MANIFEST + ".tmp")
    dst = jvm.org.apache.hadoop.fs.Path(vdir, MANIFEST)
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(manifest).encode("utf-8")))
    finally:
        out.close()
    if fs.exists(dst):
        fs.delete(dst, False)
    if not fs.rename(tmp, dst):
        raise IOError(f"manifest rename failed for {vdir}")


def _read_manifest(spark: SparkSession, store_path: str, version: int) -> dict:
    fs, _, jvm = _fs_and_path(spark, store_path)
    p = jvm.org.apache.hadoop.fs.Path(
        _version_dir(store_path, version), MANIFEST
    )
    stream = fs.open(p)
    try:
        data = bytes(
            spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        )
    finally:
        stream.close()
    return json.loads(data.decode("utf-8"))


def _apply_merge(frags: list[DataFrame], merge: dict | None) -> DataFrame:
    """Fold base + delta fragments into the logical view.  Every merge
    kind here is associative + commutative-per-key, so one fold over
    all fragments equals the per-batch iterated merge:

    * ``additive``: groupBy(keys).sum(sums) — per-batch count deltas
      (degrees, co-mention n_docs);
    * ``upsert``: latest_per_key max-struct by the version column —
      MERGE-INTO semantics, newest batch wins per (subj, pred, obj)
      (requires a version column whose STRING order is batch order;
      the triples loop stamps commit='e%010d' % epoch — fixed width,
      so epoch 100000 still sorts above 99999);
    * ``distinct``: set union (edge stores).
    """
    df = frags[0]
    for f in frags[1:]:
        df = df.unionByName(f)
    kind = (merge or {}).get("kind", "replace")
    if kind == "replace":
        return df
    if kind == "additive":
        from pyspark.sql import functions as F

        keys, sums = list(merge["keys"]), list(merge["sums"])
        dtypes = dict(frags[0].dtypes)
        aggs = [F.sum(c).cast(dtypes[c]).alias(c) for c in sums]
        return df.groupBy(*keys).agg(*aggs).select(*frags[0].columns)
    if kind == "upsert":
        from ..operators.upsert import latest_per_key

        return latest_per_key(
            df, tuple(merge["keys"]), merge.get("version_col", "commit")
        )
    if kind == "distinct":
        return df.distinct()
    raise ValueError(f"unknown merge kind: {kind!r}")


def _resolve(spark: SparkSession, store_path: str, version: int,
             kind: str) -> DataFrame:
    if kind == "full":
        return spark.read.parquet(_version_dir(store_path, version))
    man = _read_manifest(spark, store_path, version)
    frags = [spark.read.parquet(_version_dir(store_path, man["base"]))]
    frags += [
        spark.read.parquet(
            f"{_version_dir(store_path, d)}/{DELTA_SUBDIR}"
        )
        for d in man["deltas"]
    ]
    return _apply_merge(frags, man.get("merge"))


def read_snapshot(spark: SparkSession, store_path: str,
                  below: int | None = None,
                  at_least: int | None = None):
    """DataFrame over the latest committed snapshot, or None if the
    store has never committed (in the requested version range).  A
    delta head resolves to base ∪ deltas folded through the manifest's
    merge spec — one manifest read, no chain walk.

    Maintenance loops MUST pass ``below=<their own version>``: an
    at-least-once replay of epoch N then merges against the same
    predecessor it saw the first time, instead of reading its own
    committed v{N} output (which would re-create the read-own-output
    cycle and double-count additive deltas).  Loops whose run REBUILDS
    the view (checkpoint-less availableNow reprocesses every input
    file) additionally pass ``at_least=<their run's version base>`` so
    a previous run's head is never merged twice into the re-derived
    view."""
    versions = {
        v: kind for v, ok, kind in _list_versions(spark, store_path) if ok
    }
    cands = [
        v for v in versions
        if (below is None or v < below)
        and (at_least is None or v >= at_least)
    ]
    if not cands:
        return None
    v = max(cands)
    return _resolve(spark, store_path, v, versions[v])


def _chain(spark: SparkSession, store_path: str, version: int,
           kind: str) -> set[int]:
    """All version numbers a committed head transitively references."""
    if kind == "full":
        return {version}
    man = _read_manifest(spark, store_path, version)
    return {man["base"], *man["deltas"]}


def _prune(spark: SparkSession, store_path: str, keep: int,
           just_written: int) -> None:
    """Chain-aware retention: keep the ``keep`` newest committed heads
    plus every version their chains reference; delete everything else,
    including uncommitted debris (single maintenance writer, so post-
    commit an uncommitted dir can only be a crashed attempt — a replay
    overwrites its slot anyway).  The version just written is always
    protected (a writer committing below existing versions must not
    have its own commit pruned out from under it)."""
    versions = _list_versions(spark, store_path)
    committed = [(v, kind) for v, ok, kind in versions if ok]
    heads = committed[-keep:] if keep > 0 else []
    keep_set: set[int] = {just_written}
    for v, kind in heads:
        keep_set |= _chain(spark, store_path, v, kind)
    # the just-written head's chain must survive even if it is not
    # among the newest `keep` (defensive — normally it is the newest)
    for v, ok, kind in versions:
        if v == just_written and ok:
            keep_set |= _chain(spark, store_path, v, kind)
    fs, _, jvm = _fs_and_path(spark, store_path)
    for v, ok, _kind in versions:
        if v not in keep_set:
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(_version_dir(store_path, v)),
                True,
            )


def write_snapshot(df: DataFrame, store_path: str, version: int,
                   keep: int = 2) -> str:
    """Distributed FULL write of ``df`` as snapshot ``version``; on
    commit, prune with the chain-aware retention policy.  Use for views
    that are not delta-expressible (e.g. a re-converged PageRank vector
    — the fixed point is a function of the whole edge set, not a
    mergeable per-batch contribution) and for compaction.  Returns the
    version directory written."""
    spark = df.sparkSession
    vdir = _version_dir(store_path, version)
    df.write.mode("overwrite").parquet(vdir)
    _prune(spark, store_path, keep, version)
    return vdir


def write_delta(delta_df: DataFrame, store_path: str, version: int,
                merge: dict, at_least: int | None = None,
                keep: int = 2, max_chain: int = 8) -> dict:
    """Commit ``delta_df`` as version ``version`` writing ONLY the
    delta rows — the O(delta)-per-batch write path (r4 verdict item 1).

    * no committed predecessor in ``[at_least, version)`` → the delta
      IS the initial view: a FULL write (mode='full_init');
    * predecessor chain shorter than ``max_chain`` → write
      ``v{n}/delta`` + manifest {base, deltas, merge} (mode='delta');
    * chain at ``max_chain`` → fold base + deltas + this delta and
      write the FULL view (mode='compacted'), resetting the chain —
      read amplification is bounded by max_chain with a full rewrite
      amortized over max_chain batches.

    ``merge`` must be one of _apply_merge's associative specs; a replay
    of the same ``version`` resolves the SAME predecessor (below=) and
    overwrites its slot, so the loop stays idempotent.  Returns
    {mode, version, base, chain_len}.

    De-commit window: a delta write first deletes the whole ``version``
    directory, then writes the delta, then publishes the manifest.  If
    ``version`` was already committed (a replayed epoch), it is
    uncommitted from the delete until the manifest lands: readers that
    resolve the head meanwhile get the predecessor, and a reader that
    pinned ``version`` earlier fails to read it.  The replay restores
    the same view, so nothing is lost once the write completes
    (single-writer contract).
    """
    spark = delta_df.sparkSession
    pred = latest_committed_version(
        spark, store_path, below=version, at_least=at_least
    )
    if pred is None:
        view = _apply_merge([delta_df], merge)
        write_snapshot(view, store_path, version, keep=keep)
        return {"mode": "full_init", "version": version, "base": version,
                "chain_len": 0}
    versions = dict(
        (v, kind) for v, ok, kind in _list_versions(spark, store_path) if ok
    )
    if versions[pred] == "full":
        base, deltas = pred, []
    else:
        man = _read_manifest(spark, store_path, pred)
        base, deltas = man["base"], list(man["deltas"])
        # a caller switching merge spec mid-chain would silently
        # reinterpret every EARLIER delta under the new spec at read
        # time — refuse loudly instead (r6 ADVICE fix)
        # compare in JSON form: the manifest stores the spec as JSON, so
        # a tuple in the caller's spec reads back as a list
        if man.get("merge") != json.loads(json.dumps(merge)):
            raise ValueError(
                f"write_delta: merge spec {merge!r} differs from the "
                f"predecessor chain's {man.get('merge')!r} at v{pred} "
                f"under {store_path} — a chain must keep one spec; "
                "compact first (write_snapshot) to change it"
            )
    if len(deltas) + 1 >= max_chain:
        frags = [spark.read.parquet(_version_dir(store_path, base))] + [
            spark.read.parquet(f"{_version_dir(store_path, d)}/{DELTA_SUBDIR}")
            for d in deltas
        ] + [delta_df]
        write_snapshot(_apply_merge(frags, merge), store_path, version,
                       keep=keep)
        return {"mode": "compacted", "version": version, "base": version,
                "chain_len": 0}
    vdir = _version_dir(store_path, version)
    # wipe the version dir WHOLESALE before writing the delta subdir: a
    # slot previously committed as a FULL version (e.g. compaction took
    # head+1 = this epoch's slot before a checkpointed resume replayed
    # it) would otherwise keep its top-level _SUCCESS + parquet files —
    # during the manifest delete-then-rename window a concurrent reader
    # would classify the slot as a committed FULL head and read the
    # stale pre-epoch view, and the dead bytes would skew store_bytes /
    # compaction sizing forever (r6 ADVICE fix).  After this delete the
    # only commit signal a delta slot can ever expose is its manifest.
    fs, _, jvm = _fs_and_path(spark, store_path)
    fs.delete(jvm.org.apache.hadoop.fs.Path(vdir), True)
    delta_df.write.mode("overwrite").parquet(f"{vdir}/{DELTA_SUBDIR}")
    _write_manifest(spark, store_path, version, {
        "base": base,
        "deltas": deltas + [version],
        "merge": merge,
    })
    _prune(spark, store_path, keep, version)
    return {"mode": "delta", "version": version, "base": base,
            "chain_len": len(deltas) + 1}


def store_bytes(spark: SparkSession, store_path: str, version: int) -> int:
    """Total parquet bytes physically written FOR ``version`` — the
    delta dir for a delta version, the full dir otherwise (the test
    hook for the bytes-per-batch ∝ delta-size claim)."""
    fs, _, jvm = _fs_and_path(spark, store_path)
    vdir = _version_dir(store_path, version)
    _, kind = _is_committed(fs, jvm, jvm.org.apache.hadoop.fs.Path(vdir))
    root = f"{vdir}/{DELTA_SUBDIR}" if kind == "delta" else vdir
    total = 0
    it = fs.listFiles(jvm.org.apache.hadoop.fs.Path(root), True)
    while it.hasNext():
        f = it.next()
        if f.getPath().getName().endswith(".parquet"):
            total += f.getLen()
    return int(total)


def compact_snapshot(spark: SparkSession, store_path: str,
                     target_mb: int = 128) -> dict:
    """Maintenance compaction for a snapshot store: fold the latest
    committed head (full or delta chain) into ~target_mb files as the
    NEXT version.

    Micro-batch loops leave each snapshot with one file per task per
    batch plus (delta mode) a chain to fold at read time; folding the
    head through the same versioned-commit path keeps reads fast
    without breaking atomic visibility (readers see either the old
    head or the compacted one, never a partial rewrite).  Run between
    stream runs (single-writer contract): if a resumed stream later
    replays the epoch whose slot the compaction took, it simply
    overwrites it with the equivalent uncompacted view — correctness
    is preserved, only the compaction is undone.
    Returns {from_version, to_version, out_files}.
    """
    versions = {
        v: kind for v, ok, kind in _list_versions(spark, store_path) if ok
    }
    if not versions:
        raise ValueError(f"no committed snapshot under {store_path}")
    head = max(versions)
    df = _resolve(spark, store_path, head, versions[head])
    total = sum(
        store_bytes(spark, store_path, v)
        for v in _chain(spark, store_path, head, versions[head])
    )
    n_out = max(1, -(-total // (target_mb * 1024 * 1024)))  # ceil
    write_snapshot(df.repartition(int(n_out)), store_path, head + 1)
    return {"from_version": head, "to_version": head + 1,
            "out_files": int(n_out)}
