"""Runnable pipeline entrypoint — the engine's `python -m stream_cdc.main`.

Reference main() (stream_cdc/main.py:16-66) wires components from env and
runs the worker loop until SIGINT/SIGTERM. Same contract here, resolved
through the registries (O28) from the same env names (O29):

  DS_TYPE=cdc_replay|events_replay   source (default cdc_replay)
  DS_PATH=<events parquet path>      source path
  STREAM_TYPE=memory_queue           sink (FileQueue dir via QUEUE_DIR)
  CHECKPOINT_DIR=<dir>               offset/state checkpoint (O18-O20)
  BATCH_SIZE / FLUSH_INTERVAL        rate cap / trigger (O15)
  DRAIN_AND_EXIT=1                   drain the backlog, then exit

Curation mode (PIPELINE=curation): stream a (doc_id, text) document feed
through the continuous-curation sink instead — quality gates +
incremental near-dup admission with durable batch-versioned state:

  PIPELINE=curation DOCS_PATH=<documents parquet dir>
  CURATION_STATE_DIR=<dir>           decisions/kept/index state tables
  MIN_TOKENS=<n>                     quality gate (default 5)
  COMPACT_EVERY=<n>                  fold state dirs every n batches
                                     (default 16; 0 disables)
  COMPACT_MAJOR_EVERY=<K>            leveled: minor L1 delta folds,
                                     full fold every K deltas
                                     (default 0 = single-level)
  LSH_BUCKETED=1                     lsh_dedup mode: compact into
                                     bucketed snapshot tables
  CLUSTER_STATE=1                    lsh_dedup mode: maintain dedup-
                                     cluster membership continuously
                                     (incremental union-find forest)

ANN index mode (PIPELINE=ann_index): stream a (vec_id, embedding) feed
into the persisted IVF index (streaming/ann_index.py) — continuous
similarity-search admission against a fixed offline-trained quantizer:

  PIPELINE=ann_index EMB_PATH=<embeddings parquet dir>
  CENTROIDS_PATH=<parquet of (cid bigint, cv array<float>)>  REQUIRED
  ANN_STATE_DIR=<dir>                vectors/ state table
  COMPACT_EVERY / COMPACT_MAJOR_EVERY  same fold knobs as curation

Retrieval index mode (PIPELINE=retrieval_index): stream a (doc_id,
text) feed into the persisted inverted index (streaming/
retrieval_index.py) — continuous BM25/TF-IDF corpus-statistics
maintenance:

  PIPELINE=retrieval_index DOCS_PATH=<documents parquet dir>
  RETR_STATE_DIR=<dir>               docs/ postings/ stats/ state tables
  COMPACT_EVERY / COMPACT_MAJOR_EVERY  same fold knobs as curation

Versioned retrieval mode (PIPELINE=retrieval_index_versioned): the
CDC-native variant over a (doc_id, version, text) UPSERT feed — updates
supersede prior images under the version-max read rule
(RETR_VERSION_COL overrides the version column name; explicitly empty
opts a version-less feed in as version 0).

Versioned ANN mode (PIPELINE=ann_index_versioned): the CDC-native
variant over a (vec_id, version, embedding) UPSERT feed — re-embeddings
supersede prior vectors under the version-max read rule
(EMB_VERSION_COL mirrors RETR_VERSION_COL).

Knobs shared by the index modes (ann_index, ann_index_versioned,
retrieval_index, retrieval_index_versioned):

  DELETES_PATH=<parquet dir of ids>  right-to-be-forgotten feed: a
                                     second query draining ids into the
                                     index's TombstoneLog (DELETES_GLOB
                                     filters files)
  STATE_BUCKETED=1                   fold the admission ledger into a
                                     bucketed snapshot — the 100 TB
                                     shape: the per-trigger redelivery
                                     anti-join reads the ledger side
                                     Exchange-free past broadcast size
  STATE_NUM_BUCKETS=<n>              bucket count (default 32)

PIPELINE picks a launcher from MODES (an unknown value raises ValueError
naming the valid modes); every mode shares one lifecycle in main().
SIGINT/SIGTERM stop the queries gracefully (O27): the in-flight epoch
commits, the buffer is never lost, resume continues from the checkpoint.

Run:  python -m stream_cdc_spark.main
"""

from __future__ import annotations

import os
import re
import signal
import sys
from dataclasses import dataclass
from functools import partial

from pyspark.sql import functions as F

from stream_cdc_spark.config import AppConfig
from stream_cdc_spark.filters import FilterChain
from stream_cdc_spark.session import get_spark
from stream_cdc_spark.sinks.queue import FileQueue, foreach_batch_writer
from stream_cdc_spark.sources import datasource_registry, sink_registry
from stream_cdc_spark.streaming.pipeline import CdcPipeline


def _compact_kw() -> dict:
    """COMPACT_EVERY=<n batch dirs before a fold; 0 disables> and
    COMPACT_MAJOR_EVERY=<K deltas before a full fold; 0 = single-level>:
    the state-layer knobs every statedir-backed mode shares."""
    return {
        "compact_every": int(os.environ.get("COMPACT_EVERY", "16")),
        "major_every": int(os.environ.get("COMPACT_MAJOR_EVERY", "0")),
    }


def _bucketed_kw() -> dict:
    """STATE_BUCKETED=1 folds the index's admission ledger into a
    bucketed snapshot (STATE_NUM_BUCKETS, default 32) — the 100 TB
    admission shape: the per-trigger redelivery anti-join reads the
    corpus-sized ledger side with zero Exchange past broadcast size
    (streaming/ann_index.py, streaming/retrieval_index.py docs)."""
    if os.environ.get("STATE_BUCKETED", "0") != "1":
        return {}
    return {
        "bucketed": True,
        "num_buckets": int(os.environ.get("STATE_NUM_BUCKETS", "32")),
    }


def _feed_glob(path: str, table_file: str, env_name: str) -> str:
    """The streaming file source needs a directory: narrow to
    ``table_file`` when ``path`` is an sf dir holding it (next to tables
    of other schemas), else '*.parquet' so arbitrary feed layouts
    stream. ``env_name`` overrides either default."""
    default = (
        table_file
        if os.path.exists(os.path.join(path, table_file))
        else "*.parquet"
    )
    return os.environ.get(env_name, default)


def _start(stream, sink_fn, ckpt: str, drain: bool):
    """foreachBatch query over ``stream`` with its checkpoint; drain
    mode uses the availableNow trigger."""
    writer = stream.writeStream.foreachBatch(sink_fn).option(
        "checkpointLocation", ckpt
    )
    return (writer.trigger(availableNow=True) if drain else writer).start()


def _maybe_delete_stream(spark, state_dir: str, id_col: str, ckpt: str,
                         drain: bool, sink_fn=None):
    """The optional right-to-be-forgotten feed of the index pipeline
    modes: DELETES_PATH names a parquet dir of id rows (column name =
    the index's id column; DELETES_ID_COL overrides), streamed into the
    index's TombstoneLog as a SECOND query with its own checkpoint (its
    batch ids never collide with the admit stream's — separate state
    root, reads-only tombstones). ``sink_fn`` overrides the sink body
    (the composed cdc_full mode fans one feed into BOTH indexes'
    tombstone logs); it receives (df with the ids as ``id_col``,
    batch_id). Returns the started query, or None when no feed is
    configured."""
    from stream_cdc_spark.streaming.statedir import TombstoneLog

    deletes_path = os.environ.get("DELETES_PATH", "")
    if not deletes_path:
        return None
    src_col = os.environ.get("DELETES_ID_COL", id_col)
    glob = os.environ.get("DELETES_GLOB", "*.parquet")
    # fail LOUDLY on a misnamed id column: the forced streaming schema
    # would otherwise fill a missing column with nulls, tombstone
    # nothing, and exit 0 — a silent no-op on a compliance path. Best
    # effort: only checkable once the feed has files (a not-yet-written
    # feed dir is legitimate in continuous mode).
    try:
        avail = (
            spark.read.option("pathGlobFilter", glob)
            .parquet(deletes_path)
            .columns
        )
    except Exception:
        avail = None  # no files yet: nothing to contradict
    if avail is not None and src_col not in avail:
        raise ValueError(
            f"DELETES_PATH feed at {deletes_path!r} has columns {avail} "
            f"but the deletion id column is {src_col!r} (the index's id "
            f"column; override with DELETES_ID_COL). A forced schema "
            f"would read the missing column as all-null and delete "
            f"nothing."
        )
    if sink_fn is not None:
        def fb(df, bid, _fn=sink_fn, _src=src_col, _id=id_col):
            _fn(df.select(F.col(_src).cast("long").alias(_id)), bid)
    else:
        fb = TombstoneLog(
            os.path.join(state_dir, "tombstones"),
            store_col=id_col,
            source_col=src_col,
            **_compact_kw(),
        ).append
    stream = (
        spark.readStream.schema(f"{src_col} bigint")
        .option("pathGlobFilter", glob)
        .parquet(deletes_path)
        .select(src_col)
    )
    return _start(stream, fb, ckpt + "-deletes", drain)


def _require_version_column(
    spark, path: str, glob: str, ver: str, env_name: str, consequence: str
) -> None:
    """The versioned feed modes' shared silent-no-op guard: a missing
    version column would read as all-null under the forced streaming
    schema, coalesce every row to (id, 0), and first-wins admission
    would drop every update as a redelivery — stale images served
    forever with exit 0. Best effort: only checkable once the feed has
    files (a not-yet-written feed dir is legitimate in continuous
    mode)."""
    try:
        avail = (
            spark.read.option("pathGlobFilter", glob).parquet(path).columns
        )
    except Exception:
        return  # no files yet: nothing to contradict
    if ver not in avail:
        raise ValueError(
            f"versioned feed at {path!r} has columns {avail} but the "
            f"version column is {ver!r} (override with {env_name}; set "
            f"{env_name}= empty to opt a version-less feed into "
            f"versioned mode as version 0). A forced schema would read "
            f"the missing column as all-null and {consequence}."
        )


def _await_streams(spark, queries, drain: bool) -> None:
    """Await the mode's streaming queries — the one await path of every
    mode. Drain mode: process everything each query's source has now,
    then stop it (completion order is irrelevant). This holds for the
    availableNow queries, which stop themselves, and for the cdc mode's
    processing-time query (CdcPipeline.start doc). Continuous mode with
    more than one query: a dead feed must FAIL THE PIPELINE, not die
    silently behind the healthy one — await ANY termination, stop the
    survivors, then re-await each so a failed query's exception
    propagates (exit != 0). Without this, a crashed DELETES_PATH stream
    would stop applying legally-required deletions while admission kept
    running and looked healthy."""
    qs = [q for q in queries if q is not None]
    if drain:
        for q in qs:
            q.processAllAvailable()
            q.stop()
        return
    if len(qs) == 1:
        qs[0].awaitTermination()
        return
    # resetTerminated() runs AFTER the queries started, so a query that
    # died in that window is invisible to awaitAnyTermination (it would
    # block forever on the healthy survivor — the exact silent-dead-feed
    # hang this function exists to prevent). Poll each query's isActive
    # alongside the bounded await so an already-terminated feed is
    # noticed on the first loop iteration.
    spark.streams.resetTerminated()
    try:
        while True:
            if spark.streams.awaitAnyTermination(5):
                break
            if any(not q.isActive for q in qs):
                break
    finally:
        for q in qs:
            if q.isActive:
                q.stop()
    for q in qs:
        q.awaitTermination()


# Launchers: each builds one PIPELINE mode's queries and returns
# (queries, where its output lives); main() owns the lifecycle. A mode's
# deletion feed (and its loud column validation) starts BEFORE its admit
# query: a failure after the admit query started would leak a running
# orphan query (it keeps admitting after main() failed, and a retry trips
# over its half-written checkpoint). Tombstones are reads-only
# exclusion, so the start order never changes the final state.


def _cdc_main(spark, cfg, pipeline: str, drain: bool):
    """PIPELINE=cdc (default): the reference pipeline — cdc_replay or
    events_replay source -> filter chain -> FileQueue sink."""
    ds_type = os.environ.get("DS_TYPE", "cdc_replay")
    ds_path = os.environ.get(
        "DS_PATH", "/root/testdata/sf0.001/events.parquet"
    )
    queue_dir = os.environ.get("QUEUE_DIR", "/tmp/stream-cdc-spark-queue")
    ckpt = os.environ.get("CHECKPOINT_DIR", "/tmp/stream-cdc-spark-ckpt")
    if ds_type == "cdc_replay":
        source = datasource_registry.create(
            ds_type, spark=spark, path=ds_path, batchEvents=cfg.batch_size * 1000
        )
    else:
        source = datasource_registry.create(
            ds_type, spark=spark, sf_dir=os.path.dirname(ds_path)
        )
    pipe = CdcPipeline(
        spark,
        source,
        foreach_batch_writer(lambda: FileQueue(queue_dir)),
        checkpoint_dir=ckpt,
        config=cfg,
        filters=FilterChain(),
    )
    query = pipe.start(available_now=drain)
    return [query], f"queue at {queue_dir}, checkpoint at {ckpt}"


def _curation_main(spark, cfg, pipeline: str, drain: bool):
    """PIPELINE=curation | lsh_dedup: a continuous document-feed pipeline
    over a parquet directory — quality-gated dedup admission (curation)
    or near-dup match emission via the snapshot-join LSH sink
    (lsh_dedup). Same streaming scaffold, sink chosen by registry name."""
    docs_path = os.environ.get("DOCS_PATH", "/root/testdata/sf0.001")
    state_dir = os.environ.get(
        "CURATION_STATE_DIR", f"/tmp/stream-cdc-spark-{pipeline}"
    )
    ckpt = os.environ.get("CHECKPOINT_DIR", state_dir + "-ckpt")
    sink_kw = _compact_kw()
    if pipeline == "lsh_dedup":
        # LSH_BUCKETED=1 publishes compacted LSH snapshots as bucketed
        # tables; CLUSTER_STATE=1 also maintains dedup-cluster
        # membership — each batch's matches fold into the incremental
        # union-find forest under clusters/, and the min-id
        # representative is the survivorship pick (streaming/components.py)
        if os.environ.get("LSH_BUCKETED", "0") == "1":
            sink_kw["bucketed"] = True
        if os.environ.get("CLUSTER_STATE", "0") == "1":
            sink_kw["cluster_state"] = True
    # MEDIA_BLOB_COL=<col> (curation mode): multimodal curation — the feed
    # also carries a thumbnail blob column and the sink runs the q132
    # perceptual admission between the quality gate and text dedup
    media_blob = (
        os.environ.get("MEDIA_BLOB_COL", "") if pipeline == "curation" else ""
    )
    feed_schema = "doc_id bigint, text string"
    feed_cols = ["doc_id", "text"]
    if media_blob:
        # the value is spliced verbatim into a readStream DDL schema
        # string and select(); anything but a simple identifier would
        # surface as a confusing parse error (or an unintended extra
        # column) far from the env var — fail loudly here instead
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", media_blob):
            raise ValueError(
                f"MEDIA_BLOB_COL must be a simple column identifier "
                f"([A-Za-z_][A-Za-z0-9_]*), got {media_blob!r}"
            )
        sink_kw["media_blob_col"] = media_blob
        feed_schema += f", {media_blob} binary"
        feed_cols.append(media_blob)
    sink = sink_registry.create(
        pipeline,
        state_dir=state_dir,
        min_tokens=int(os.environ.get("MIN_TOKENS", "5")),
        **sink_kw,
    )
    stream = (
        spark.readStream.schema(feed_schema)
        .option(
            "pathGlobFilter",
            _feed_glob(docs_path, "documents.parquet", "DOCS_GLOB"),
        )
        .parquet(docs_path)
        .select(*feed_cols)
    )
    query = _start(stream, sink, ckpt, drain)
    return [query], f"state at {state_dir}, checkpoint at {ckpt}"


@dataclass(frozen=True)
class _IndexFeed:
    """What tells the two index families' launchers apart: env names,
    the id column, and the payload column with its type."""

    path_env: str
    state_env: str
    default_state_dir: str
    table_file: str
    glob_env: str
    version_env: str
    id_col: str
    payload_col: str
    payload_type: str
    # how first-wins admission fails on a feed missing its version column
    consequence: str
    needs_centroids: bool


_ANN_FEED = _IndexFeed(
    "EMB_PATH", "ANN_STATE_DIR", "/tmp/stream-cdc-spark-ann",
    "embeddings.parquet", "EMB_GLOB", "EMB_VERSION_COL",
    "vec_id", "embedding", "array<float>",
    "drop every re-embedding as a redelivery", True,
)
_RETRIEVAL_FEED = _IndexFeed(
    "DOCS_PATH", "RETR_STATE_DIR", "/tmp/stream-cdc-spark-retr",
    "documents.parquet", "DOCS_GLOB", "RETR_VERSION_COL",
    "doc_id", "text", "string",
    "drop every update as a redelivery", False,
)


def _index_main(feed: _IndexFeed, spark, cfg, pipeline: str, drain: bool):
    """PIPELINE=ann_index | retrieval_index: continuous admission of an
    (id, payload) parquet feed into the persisted IVF index
    (streaming/ann_index.py; CENTROIDS_PATH required) or the inverted
    BM25/TF-IDF index (streaming/retrieval_index.py).
    PIPELINE=<mode>_versioned: the CDC-native variant over an
    (id, version, payload) UPSERT feed — newer images supersede prior
    ones under the version-max read rule. A feed missing the version
    column FAILS LOUDLY (_require_version_column); <VERSION_ENV>=
    (explicitly empty) opts a version-less feed in as version 0
    (insert-only first-wins until updates appear).
    DELETES_PATH adds the deletion feed (_maybe_delete_stream)."""
    versioned = pipeline.endswith("_versioned")
    path = os.environ.get(feed.path_env, "/root/testdata/sf0.001")
    state_dir = os.environ.get(feed.state_env, feed.default_state_dir)
    ckpt = os.environ.get("CHECKPOINT_DIR", state_dir + "-ckpt")
    if feed.needs_centroids:
        extra = {"centroids_path": os.environ.get("CENTROIDS_PATH", "")}
    else:
        extra = {}
    sink = sink_registry.create(
        pipeline, state_dir=state_dir, **extra, **_compact_kw(), **_bucketed_kw()
    )
    glob = _feed_glob(path, feed.table_file, feed.glob_env)
    ver = os.environ.get(feed.version_env, "version")
    payload = f"{feed.payload_col} {feed.payload_type}"
    if versioned and ver:
        _require_version_column(
            spark, path, glob, ver, feed.version_env, feed.consequence
        )
        schema = f"{feed.id_col} bigint, {ver} bigint, {payload}"
        version = [
            F.coalesce(F.col(ver).cast("long"), F.lit(0)).alias("version")
        ]
    else:
        schema = f"{feed.id_col} bigint, {payload}"
        version = [F.lit(0).cast("long").alias("version")] if versioned else []
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", glob)
        .parquet(path)
        .select(feed.id_col, *version, feed.payload_col)
    )
    del_query = _maybe_delete_stream(spark, state_dir, feed.id_col, ckpt, drain)
    query = _start(stream, sink, ckpt, drain)
    return [query, del_query], f"state at {state_dir}, checkpoint at {ckpt}"


def _cdc_full_main(spark, cfg, pipeline: str, drain: bool):
    """PIPELINE=cdc_full: the composed production pipeline — one typed
    CDC envelope feed (event_type, gtid_seq, content struct with
    doc_id/text/embedding) driving the curation quality gate, the
    versioned retrieval index AND the versioned ANN index under ONE
    checkpoint (streaming/cdc_full.py). DELETES_PATH adds an
    out-of-band deletion feed applied to both indexes.

      EVENTS_PATH=<envelope parquet dir>   (EVENTS_GLOB filters files)
      CDC_STATE_DIR=<root>                 sub-roots retr/ and ann/
      CENTROIDS_PATH=<(cid, cv) parquet>   REQUIRED (IVF quantizer)
      MIN_TOKENS=<n>                       quality gate (default 5)
      COMPACT_EVERY / COMPACT_MAJOR_EVERY / STATE_BUCKETED /
      STATE_NUM_BUCKETS                    shared state knobs
    """
    from pyspark.sql.types import StructType

    from stream_cdc_spark.streaming.cdc_full import CDC_FULL_FEED_SCHEMA

    events_path = os.environ.get("EVENTS_PATH", "/root/testdata/sf0.001")
    state_dir = os.environ.get(
        "CDC_STATE_DIR", "/tmp/stream-cdc-spark-cdc-full"
    )
    ckpt = os.environ.get("CHECKPOINT_DIR", state_dir + "-ckpt")
    # the registry-created sink is the pipeline OBJECT's foreach_batch;
    # keep the object for the deletion feed's two-index fan-out
    pipe = sink_registry.create(
        "cdc_full",
        state_dir=state_dir,
        centroids_path=os.environ.get("CENTROIDS_PATH", ""),
        min_tokens=int(os.environ.get("MIN_TOKENS", "5")),
        _return_pipeline=True,
        **_compact_kw(),
        **_bucketed_kw(),
    )
    events_glob = os.environ.get("EVENTS_GLOB", "*.parquet")
    # loud startup guard (best effort, like _require_version_column): a
    # feed missing an envelope column, or a field of the content struct
    # (ADVICE r13), reads it as all-null under the forced schema. Null
    # versions break exactly-once admission and vanish from probes; null
    # doc_ids/embeddings permanently occupy first-wins admission slots a
    # corrected redelivery can never reclaim. The sink ALSO fails
    # per-batch on null versions, ids and embeddings.
    try:
        feed_schema = (
            spark.read.option("pathGlobFilter", events_glob)
            .parquet(events_path)
            .schema
        )
    except Exception:
        feed_schema = None  # no files yet: nothing to contradict
    if feed_schema is not None:
        names = set(feed_schema.names)
        content_t = feed_schema["content"].dataType if "content" in names else None
        content = (
            set(content_t.names) if isinstance(content_t, StructType) else set()
        )
        for what, have, need in (
            ("columns", names, {"event_type", "gtid_seq", "content"}),
            ("content fields", content, {"doc_id", "text", "embedding"}),
        ):
            if need - have:
                raise ValueError(
                    f"cdc_full feed at {events_path!r} has {what} "
                    f"{sorted(have)} but the envelope schema needs "
                    f"{sorted(need - have)} — a forced schema would read "
                    f"them as all-null and silently corrupt first-wins "
                    f"admission."
                )
    stream = (
        spark.readStream.schema(CDC_FULL_FEED_SCHEMA)
        .option("pathGlobFilter", events_glob)
        .parquet(events_path)
    )
    del_query = _maybe_delete_stream(
        spark, state_dir, "doc_id", ckpt, drain, sink_fn=pipe.delete_batch
    )
    query = _start(stream, pipe.foreach_batch, ckpt, drain)
    return [query, del_query], f"state at {state_dir}, checkpoint at {ckpt}"


MODES = {
    "cdc": _cdc_main,
    "curation": _curation_main,
    "lsh_dedup": _curation_main,
    "ann_index": partial(_index_main, _ANN_FEED),
    "ann_index_versioned": partial(_index_main, _ANN_FEED),
    "retrieval_index": partial(_index_main, _RETRIEVAL_FEED),
    "retrieval_index_versioned": partial(_index_main, _RETRIEVAL_FEED),
    "cdc_full": _cdc_full_main,
}


def main() -> int:
    cfg = AppConfig.load()
    pipeline = os.environ.get("PIPELINE", "cdc")
    launch = MODES.get(pipeline)
    if launch is None:
        raise ValueError(
            f"unknown PIPELINE={pipeline!r}; valid modes: "
            f"{', '.join(MODES)}"
        )
    app = "pipeline" if pipeline == "cdc" else pipeline.replace("_", "-")
    spark = get_spark(app_name=f"stream-cdc-spark-{app}")
    spark.sparkContext.setLogLevel(cfg.log_level)
    drain = os.environ.get("DRAIN_AND_EXIT", "0") == "1"
    queries, where = launch(spark, cfg, pipeline, drain)

    def _stop(signum, frame):  # O27 graceful shutdown
        print(f"signal {signum}: stopping {pipeline}", file=sys.stderr)
        for q in queries:
            if q is not None:
                q.stop()

    signal.signal(signal.SIGINT, _stop)
    signal.signal(signal.SIGTERM, _stop)
    _await_streams(spark, queries, drain)
    print(f"{pipeline} stopped; {where}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
