"""Index maintenance: delete-by-query (liveDocs) + expungeDeletes.

The reference deletes documents through the update log
(solr/core/src/java/org/apache/solr/update/DirectUpdateHandler2.java
delete / deleteByQuery) and physically reclaims them when segments
merge (forceMerge / expungeDeletes). The Spark shape:

- deletes land in a snapshot-committed `deletes/` sidecar table of
  docids (sources/snapshots.py: atomic manifest commit — a crash never
  publishes a torn delete batch). Query paths exclude them via a
  BROADCAST anti-join (`Index.postings_live`), and — faithful to
  Lucene — corpus statistics keep their build-time values until the
  index is compacted, so block-max metadata stays a valid upper bound.
- `expunge_deletes` is the merge: rewrite postings/docs/positions
  without the deleted rows (same bucketed layout), re-encode block-max
  blocks from the live postings (single-field indexes; the salt layout
  is a pure function of docid + the dictionary's head flags, so the
  rebuild needs no staged state), refresh the dictionary's mtp/skips
  columns, and clear the sidecar. Statistics stay build-time
  (expungeDeletes semantics); a stats refresh is a rebuild —
  `sources.snapshots.build_index_versioned` is that path.

While deletes are pending, the pruned WAND path routes to the flat
engine: WAND's metadata-seeded threshold T0 counts deleted docs, so a
live doc below T0 could be wrongly pruned; the flat path's anti-join
is exact at any delete ratio. expunge restores pruning.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from solr_spark.index.builder import (
    DELETES_BROADCAST_CAP, SKIPLIST_CAP, Index, _write_bucketed,
)
from solr_spark.session import local_frame


def delete_by_ids(index: Index, docids: list[int]) -> int:
    """Mark docids deleted (idempotent; unknown ids are harmless).
    Returns the number of NEWLY deleted ids. The explicit-id API — the
    delete set is caller-bounded, so a driver-side list is fine here;
    set-valued deletes go through `delete_by_df`/`delete_by_query`,
    which never collect."""
    spark = index.spark
    ids = sorted({int(d) for d in docids})
    if not ids:
        return 0
    batch = local_frame(spark, [(d,) for d in ids], "docid long")
    return delete_by_df(index, batch)


def delete_by_df(index: Index, docids_df: DataFrame) -> int:
    """Mark every docid in `docids_df` deleted; returns the count of
    NEWLY deleted ids. Fully distributed: the matched set is published
    straight to the deletes sidecar (snapshots.publish takes the
    DataFrame), never collected to the driver — a delete matching 100M
    docs stays executor-side (round-4 scale finding)."""
    from solr_spark.sources.snapshots import publish

    batch = index.minus_deleted(docids_df.select("docid").distinct()).persist()
    try:
        n = batch.count()
        if n:
            publish(index.paths.deletes, batch, mode="append", n_rows=n)
            # the dictionary/table caches stay valid (stats are
            # build-time) but cached liveDocs + query RESULTS are stale
            index._invalidate_deletes()
        return int(n)
    finally:
        batch.unpersist()


def delete_by_query(
    index: Index, qtext: str, mode: str = "OR", field: str | None = None
) -> int:
    """deleteByQuery: every live doc matching the analyzed query joins
    the deletes sidecar. Matching runs through the same postings scan as
    search (bucket-pruned, term-pushed); the matched docids flow to the
    sidecar as a DataFrame — nothing corpus-proportional touches the
    driver."""
    from solr_spark.query.engine import bm25_scores

    matched = bm25_scores(index, qtext, mode=mode, field=field).select("docid")
    return delete_by_df(index, matched)


def _swap_dir(new_dir: str, live_dir: str) -> None:
    """Replace `live_dir` with `new_dir` via two renames (the window
    without a live dir is between two metadata ops, not a data copy).
    A missing live dir (first-time write, e.g. blocks on a fresh merged
    index) is just a move into place."""
    old = live_dir + ".old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(live_dir):
        os.rename(live_dir, old)
    os.rename(new_dir, live_dir)
    shutil.rmtree(old, ignore_errors=True)


def expunge_deletes(index: Index) -> dict:
    """Physically drop deleted docs (expungeDeletes / the merge step).

    Compacts postings, docs and positions (anti-join + the original
    bucketed layout), re-encodes blocks from the live postings and
    refreshes the dictionary's block-max summary (single-field
    indexes), then clears the deletes sidecar. Returns a report dict.

    Multi-field indexes with blocks DROP the blocks sidecar instead of
    re-encoding (the on-disk postings drop the fid ordinal the
    per-field encoder needs — the same constraint as a resumed
    multi-field build, builder.py:969-973): the compacted postings are
    exact, `has_blocks` flips off in meta so WAND routing reflects
    reality, the deletes sidecar clears, and repeated expunges are
    no-ops. (Keeping stale blocks + a permanent sidecar was the
    round-4 finding: pruning stayed disabled forever and every later
    expunge re-rewrote the whole index.)
    """
    import json

    spark = index.spark
    paths = index.paths
    report: dict = {"expunged": 0}
    if not index.has_deletes():
        return report
    dele = index.deleted_ids().persist()
    n_del = dele.count()
    report["expunged"] = int(n_del)
    num_buckets = int(index.meta["num_buckets"])
    # the delete set was just counted — broadcast only when it fits
    dele_j = F.broadcast(dele) if n_del <= DELETES_BROADCAST_CAP else dele

    live_post = index.postings().join(dele_j, "docid", "left_anti")
    tmp_post = paths.postings + ".compact"
    _write_bucketed(live_post, tmp_post, num_buckets, ("tid", "docid"))
    _swap_dir(tmp_post, paths.postings)

    live_docs = index.docs().join(dele_j, "docid", "left_anti")
    tmp_docs = paths.docs + ".compact"
    live_docs.write.mode("overwrite").parquet(tmp_docs)
    _swap_dir(tmp_docs, paths.docs)

    if index.meta.get("has_positions") and os.path.isdir(paths.positions):
        live_pos = index.positions().join(dele_j, "docid", "left_anti")
        tmp_pos = paths.positions + ".compact"
        _write_bucketed(live_pos, tmp_pos, num_buckets, ("tid", "docid", "pos"))
        _swap_dir(tmp_pos, paths.positions)

    # the swapped dirs invalidate any memoized table handles NOW, not
    # just at the end — later steps must list the new files
    index._df_cache.clear()

    multi_field = bool(index.meta.get("fields"))
    if index.meta.get("has_blocks") and not multi_field:
        _reencode_blocks(index)
        report["blocks_reencoded"] = True
    elif index.meta.get("has_blocks") and multi_field:
        # postings are compacted but can't be re-encoded per-field:
        # drop the (now stale) blocks and record it, so WAND routing
        # and repeated expunges see a consistent index
        shutil.rmtree(paths.blocks, ignore_errors=True)
        index.meta["has_blocks"] = False
        with open(paths.meta, "w") as f:
            json.dump(index.meta, f, indent=2)
        report["blocks_dropped"] = True

    dele.unpersist()
    shutil.rmtree(paths.deletes, ignore_errors=True)
    _drop_ts_cache(index)  # dictionary was rewritten (mtp/skips)
    return report


def _drop_ts_cache(index: Index) -> None:
    """Full handle-cache invalidation after an on-disk rewrite: the
    persisted term_stats frame, the term-dictionary LRU, memoized table
    handles, query-result cache and deletes snapshot all reflect the OLD
    files. The commit-opens-a-new-searcher analogue."""
    index.invalidate_caches()


def _reencode_blocks(index: Index) -> None:
    """Rebuild blocks + the dictionary's (mtp, skips) columns from the
    COMPACTED postings — the head-term salt is pmod(docid, num_salts)
    gated on the dictionary's is_head flag, so the encode layout is
    reproducible with no staged build state."""
    from pyspark.sql import Window

    from solr_spark.index.blocks import BLOCK_SIZE, BLOCKS_SCHEMA, make_block_encoder

    spark = index.spark
    paths = index.paths
    num_buckets = int(index.meta["num_buckets"])
    num_salts = int(index.meta["num_salts"])
    avgdl = float(index.meta["avgdl"])

    # salting here deliberately keeps the DICTIONARY's is_head flag
    # (build-time df), not the post-compaction run length, so the salt
    # layout stays stable across expunges — the salt column is provided
    # to the encoder rather than derived
    ts = spark.read.parquet(paths.term_stats)
    head_tids = ts.where(F.col("is_head")).select("tid").withColumn(
        "_is_head", F.lit(True)
    )
    salted = (
        spark.read.parquet(paths.postings)
        .join(F.broadcast(head_tids), "tid", "left")
        .withColumn(
            "salt",
            F.when(
                F.col("_is_head").isNotNull(),
                F.pmod(F.col("docid"), F.lit(num_salts)).cast("int"),
            ).otherwise(F.lit(0)),
        )
        .drop("_is_head")
    )
    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sorted_post = salted.repartition(
        shuffle_parts, "tid", "salt"
    ).sortWithinPartitions("tid", "salt", "docid")
    blocks = sorted_post.mapInArrow(
        make_block_encoder(avgdl, BLOCK_SIZE), schema=BLOCKS_SCHEMA
    )
    tmp_blocks = paths.blocks + ".compact"
    _write_bucketed(blocks, tmp_blocks, num_buckets, ("tid", "salt", "block_id"))
    _swap_dir(tmp_blocks, paths.blocks)

    # refresh the dictionary's folded block-max summary (same fold as
    # the build: per-term global max tf_part + top-SKIPLIST_CAP skip
    # pairs by min_tf_part)
    bmeta = spark.read.parquet(paths.blocks).select(
        "tid", "min_tf_part", F.col("n_docs").alias("nd"), "max_tf_part"
    )
    mtp = bmeta.groupBy("tid").agg(F.max("max_tf_part").alias("mtp"))
    w = Window.partitionBy("tid").orderBy(F.desc("min_tf_part"), F.desc("nd"))
    skips = (
        bmeta.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= SKIPLIST_CAP)
        .groupBy("tid")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("min_tf_part").alias("m"), F.col("nd"))
                ),
                asc=False,
            ).alias("skips")
        )
    )
    refreshed = (
        ts.drop("mtp", "skips")
        .join(mtp.join(skips, "tid"), "tid", "left")
    )
    tmp_ts = paths.term_stats + ".compact"
    (
        refreshed.repartition(max(1, num_buckets // 2), "bucket")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(tmp_ts)
    )
    _swap_dir(tmp_ts, paths.term_stats)


def merge_indexes(a: Index, b: Index, out_root: str) -> Index:
    """MERGEINDEXES (solr CoreAdmin MergeIndexes action / Lucene
    IndexWriter.addIndexes): combine two indexes built with the SAME
    analyzer config into one, re-based docids (b's shift by a.n_docs)
    and EXACTLY recomputed statistics — the merged index is
    value-identical to an index built over the concatenated corpus
    (asserted by the metamorphic test: merge(half1, half2) gives the
    same BM25 results as build(whole)).

    Scale shape: postings/docs/positions are UNIONS written back in the
    original bucketed layout (one shuffle each, no corpus re-tokenize);
    the dictionary is recomputed from a postings aggregation
    (vocabulary-sized); blocks re-encode from the merged postings when
    either input had them. tid = xxhash64(term) is content-derived, so
    the two dictionaries agree by construction.

    Pending deletes must be expunged first (deleted docs would leak
    through the union); multi-field indexes are not supported (their
    on-disk postings drop the fid ordinal the per-field block encoder
    needs — same constraint as expunge)."""
    import json

    spark = a.spark
    for side in (a, b):
        if side.meta.get("fields"):
            raise ValueError("merge_indexes: multi-field indexes unsupported")
        if side.has_deletes():
            raise ValueError("merge_indexes: expunge_deletes first")
    for key in ("stopwords", "synonyms", "analyzer"):
        if a.meta.get(key) != b.meta.get(key):
            raise ValueError(f"merge_indexes: analyzer config differs ({key})")
    from solr_spark.index.builder import Index as _Index
    from solr_spark.index.builder import IndexPaths, bucket_of_col

    paths = IndexPaths(out_root)
    os.makedirs(out_root, exist_ok=True)
    num_buckets = int(a.meta["num_buckets"])
    salt_threshold = int(a.meta["salt_threshold"])
    # the shift must clear a's ACTUAL docid space, not its live count:
    # expunge/merge compact rows without renumbering docids, so after
    # an expunged input max(docid) exceeds n_docs-1 and an n_docs-based
    # shift would assign b's docs ids that already exist in a (two
    # documents silently sharing a docid — round-4 advice, high)
    offset = int(
        a.docs().agg(F.max("docid").alias("m")).collect()[0]["m"]
    ) + 1

    def shifted(df: DataFrame) -> DataFrame:
        return df.withColumn("docid", F.col("docid") + F.lit(offset))

    merged_post = a.postings().unionByName(shifted(b.postings()))
    _write_bucketed(merged_post, paths.postings, num_buckets, ("tid", "docid"))

    a.docs().unionByName(shifted(b.docs())).write.mode("overwrite").parquet(
        paths.docs
    )

    has_positions = bool(
        a.meta.get("has_positions") and b.meta.get("has_positions")
    )
    if has_positions:
        _write_bucketed(
            a.positions().unionByName(shifted(b.positions())),
            paths.positions, num_buckets, ("tid", "docid", "pos"),
        )

    # dictionary: exact df/cttf from the merged postings; term strings
    # from the union of the input dictionaries (tid-keyed)
    post = spark.read.parquet(paths.postings)
    agg = post.groupBy("tid").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").cast("long").alias("cttf")
    )
    terms = (
        a.term_stats().select("tid", "term")
        .unionByName(b.term_stats().select("tid", "term"))
        .distinct()
    )
    ts = (
        agg.join(terms, "tid")
        .withColumn("is_head", F.col("df") > F.lit(salt_threshold))
        .withColumn("bucket", bucket_of_col("term", num_buckets))
        .withColumn("mtp", F.lit(None).cast("double"))
        .withColumn("skips", F.lit(None).cast("array<struct<m:double,nd:int>>"))
    )
    (
        ts.repartition(max(1, num_buckets // 2), "bucket")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(paths.term_stats)
    )

    docs_stats = spark.read.parquet(paths.docs).agg(
        F.count(F.lit(1)).alias("n"), F.avg("doclen").alias("avgdl")
    ).collect()[0]
    meta = dict(a.meta)
    meta.update(
        {
            "n_docs": int(docs_stats["n"]),
            "avgdl": float(docs_stats["avgdl"]),
            "num_chunks": 1,
            "has_positions": has_positions,
            "has_blocks": False,
            "merged_from": [a.paths.root, b.paths.root],
        }
    )
    meta.pop("build_seconds", None)
    with open(paths.meta, "w") as f:
        json.dump(meta, f, indent=2)
    out = _Index(spark, paths, meta)
    if a.meta.get("has_blocks") or b.meta.get("has_blocks"):
        _reencode_blocks(out)
        meta["has_blocks"] = True
        with open(paths.meta, "w") as f:
            json.dump(meta, f, indent=2)
        out.meta = meta
        _drop_ts_cache(out)
    return out


def backup_index(index: Index, backup_root: str, name: str) -> str:
    """Snapshot backup (the replication handler's backup command,
    solr/core/src/java/org/apache/solr/handler/ReplicationHandler.java
    CMD_BACKUP / SnapShooter): copy the index's committed artifacts
    into `backup_root/name` — parquet files are immutable once
    published, so a file-level copy IS a consistent snapshot as long as
    no maintenance op (expunge/merge swap) runs concurrently, the same
    caveat as the reference's snapshot-while-committing rule. Pending
    deletes travel with the backup (the sidecar is part of the index
    state). Returns the backup path."""
    dest = os.path.join(backup_root, name)
    if os.path.exists(dest):
        raise FileExistsError(f"backup {name!r} already exists in {backup_root}")
    os.makedirs(backup_root, exist_ok=True)
    src = index.paths.root
    tmp = dest + ".inprogress"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for entry in os.listdir(src):
        s = os.path.join(src, entry)
        if entry == "stage" or entry.endswith((".old", ".compact", ".inprogress")):
            continue
        if os.path.isdir(s):
            shutil.copytree(s, os.path.join(tmp, entry))
        else:
            shutil.copy2(s, os.path.join(tmp, entry))
    os.rename(tmp, dest)  # atomic publish of the finished backup
    return dest


def restore_index(spark, backup_path: str, restore_root: str) -> Index:
    """Restore a backup into a NEW index root (CMD_RESTORE) and return
    the loaded handle. The restore target must not exist — restores
    never overwrite a live index (publish via sources.snapshots for
    atomic switch-over semantics)."""
    if os.path.exists(restore_root):
        raise FileExistsError(f"restore target {restore_root!r} exists")
    if not os.path.exists(os.path.join(backup_path, "meta.json")):
        raise FileNotFoundError(f"no index backup at {backup_path!r}")
    os.makedirs(os.path.dirname(restore_root) or ".", exist_ok=True)
    tmp = restore_root + ".inprogress"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.copytree(backup_path, tmp)
    os.rename(tmp, restore_root)
    return Index.load(spark, restore_root)


def add_documents(index: Index, corpus: DataFrame, out_root: str) -> Index:
    """Incremental indexing: the add-docs-then-commit flow
    (DirectUpdateHandler2.addDoc + commit opens a searcher over old and
    new segments). Builds a DELTA index over just the new corpus rows —
    tokenize/invert cost is proportional to the delta, never the
    existing index — with the parent's exact analyzer config and layout
    knobs, then merges (merge_indexes) into `out_root` with re-based
    docids and exactly recomputed statistics. The parent index is
    untouched (commit-switch via sources.snapshots keeps readers on it
    until the new root is published).

    New (repo, path, commit) keys must not collide with existing docs —
    updates go through delete_by_query + add (the reference's
    overwrite-by-uniqueKey is likewise delete+add at the segment level).
    """
    from solr_spark.index.builder import build_index

    if index.meta.get("fields"):
        raise ValueError("add_documents: multi-field indexes unsupported")
    delta_root = out_root + ".delta"
    shutil.rmtree(delta_root, ignore_errors=True)
    m = index.meta
    delta = build_index(
        index.spark,
        corpus,
        delta_root,
        num_buckets=int(m["num_buckets"]),
        salt_threshold=int(m["salt_threshold"]),
        num_salts=int(m["num_salts"]),
        build_blocks=bool(m.get("has_blocks")),
        build_positions=bool(m.get("has_positions")),
        stopwords=m.get("stopwords"),
        synonyms=m.get("synonyms"),
        analyzer=m.get("analyzer"),
    )
    try:
        return merge_indexes(index, delta, out_root)
    finally:
        shutil.rmtree(delta_root, ignore_errors=True)


def upsert_documents(index: Index, corpus: DataFrame, out_root: str) -> Index:
    """Overwrite-by-uniqueKey (the reference's default add semantics:
    DirectUpdateHandler2.addDoc deletes the previous version of the
    uniqueKey then adds): rows in `corpus` whose (repo, path, commit)
    key already exists REPLACE the old docs; new keys append.

    Shape: one broadcast-friendly join of the delta's keys against the
    docs table finds the colliding docids (delta-sized work), they're
    tombstoned + expunged, then add_documents merges the delta in. The
    returned index lives at `out_root`; the parent is left expunged but
    otherwise intact."""
    from solr_spark.index.builder import DOC_KEY

    keys = corpus.select(*DOC_KEY).distinct()
    colliding = (
        index.docs()
        .join(F.broadcast(keys), list(DOC_KEY), "left_semi")
        .select("docid")
    )
    if delete_by_df(index, colliding):
        expunge_deletes(index)
    return add_documents(index, corpus, out_root)
