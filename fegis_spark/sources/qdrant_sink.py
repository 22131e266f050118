"""Batch vector indexing to Qdrant (SURVEY.md §2.1 S2-S4) — the
driver-declared spark_approach.

The reference upserts one point per tool call over gRPC
(fegis/storage.py:194-199) after a per-call lineage read
(storage.py:113-143). The batch sink inverts that: memories are
computed wholly in Spark (ingest.py), then bulk-indexed per partition
with bounded batches — executors connect directly (no driver
collect), so indexing throughput scales with the cluster.

Import-gated: qdrant-client is not in this container. Everything that
does NOT need the client (collection spec, payload construction,
batching) is a pure function and unit-tested; only `upsert_partition`
touches the network.

DDL parity (reference storage.py:56-111): collection create-if-absent
with cosine vector params; payload indexes TEXT(title, context),
KEYWORD(tool, session_id, memory_id, preceding_memory_id +
4 meta.* fields), INTEGER(sequence_order), DATETIME(timestamp).
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Iterator
from typing import Any

from pyspark.sql import DataFrame, Row

DEFAULT_BATCH_SIZE = 256

#: field → index kind (reference storage.py:73-86)
PAYLOAD_INDEXES: dict[str, str] = {
    "title": "text",
    "context": "text",
    "tool": "keyword",
    "session_id": "keyword",
    "memory_id": "keyword",
    "preceding_memory_id": "keyword",
    "sequence_order": "integer",
    "timestamp": "datetime",
    "meta.agent_id": "keyword",
    "meta.archetype_title": "keyword",
    "meta.archetype_version": "keyword",
    "meta.schema_version": "keyword",
}


def row_to_point(row: Row) -> dict[str, Any]:
    """Memory row → Qdrant point dict (id, vector, payload) — pure
    function of the row (reference payload assembly storage.py:173-191)."""
    d = row.asDict(recursive=True)
    vector = d.pop("embedding", None)
    payload = {k: v for k, v in d.items() if v is not None}
    ts = payload.get("timestamp")
    if ts is not None and hasattr(ts, "isoformat"):
        payload["timestamp"] = ts.isoformat()
    return {"id": d["memory_id"], "vector": vector, "payload": payload}


def batched(rows: Iterable[Row], size: int = DEFAULT_BATCH_SIZE) -> Iterator[list[dict]]:
    """Bounded upsert batches (keeps executor memory flat regardless of
    partition size)."""
    buf: list[dict] = []
    for r in rows:
        buf.append(row_to_point(r))
        if len(buf) >= size:
            yield buf
            buf = []
    if buf:
        yield buf


def _already_exists(exc: Exception) -> bool:
    """Qdrant signals create-race conflicts with 'already exists' /
    409-conflict responses; anything else (auth, network, bad schema)
    must propagate instead of being swallowed."""
    msg = str(exc).lower()
    return "already exist" in msg or "conflict" in msg or "409" in msg


def _is_transient(exc: Exception) -> bool:
    """Errors worth a bounded retry: network/timeout/unavailable/5xx.
    Everything else (auth, schema, 4xx validation) fails immediately —
    retrying those only hides a bug. The patterns cover qdrant-client's
    REST (httpx: timeout/connect errors, 502/503/504 text) and gRPC
    (UNAVAILABLE / DEADLINE_EXCEEDED / RESOURCE_EXHAUSTED) surfaces."""
    msg = str(exc).lower()
    return any(
        p in msg
        for p in (
            "timeout",
            "timed out",
            "unavailable",
            "deadline",
            "connection",
            "connect error",
            "reset by peer",
            "resource_exhausted",
            "too many requests",
            "429",
            "502",
            "503",
            "504",
        )
    )


def collection_vector_size(client: Any, collection: str) -> int | None:
    """The existing collection's vector dim, or None when the client's
    collection-info shape doesn't expose it (fake clients, older
    servers)."""
    info = client.get_collection(collection)
    vectors = getattr(
        getattr(getattr(info, "config", None), "params", None), "vectors", None
    )
    return getattr(vectors, "size", None)


def existing_payload_indexes(client: Any, collection: str) -> set[str]:
    """Fields that already have a payload index (from the collection
    info's payload_schema), so ensure_collection only issues DDL for
    the diff."""
    info = client.get_collection(collection)
    schema = getattr(info, "payload_schema", None) or {}
    return set(schema.keys())


def ensure_collection(
    client: Any,
    collection: str,
    dim: int,
    distance: str = "Cosine",
    models: Any = None,
    recreate_on_dim_mismatch: bool = False,
) -> None:
    """Idempotent DDL: create-if-absent + payload-index diffing (S2,
    S3). `models` is injectable for contract tests; defaults to the
    real qdrant_client.models.

    Dimension-mismatch semantics (r9 verdict #7): an existing
    collection whose vector size differs from `dim` would make every
    subsequent upsert fail point-by-point deep inside executor tasks.
    Default is to fail LOUDLY here at DDL time with both sizes in the
    message (the reference's posture — storage.py:56-72 logs and
    re-raises rather than silently adapting); pass
    recreate_on_dim_mismatch=True to drop and recreate (destructive —
    only correct when the collection is owned by this pipeline, e.g.
    after an embedder swap changed the dimension)."""
    if models is None:
        from qdrant_client import models  # noqa: PLC0415 — import-gated

    existing = {c.name for c in client.get_collections().collections}
    if collection in existing:
        have_dim = collection_vector_size(client, collection)
        if have_dim is not None and have_dim != dim:
            if not recreate_on_dim_mismatch:
                raise ValueError(
                    f"collection '{collection}' has vector size {have_dim}, "
                    f"expected {dim} — pass recreate_on_dim_mismatch=True to "
                    f"drop and recreate (destroys stored points)"
                )
            client.delete_collection(collection_name=collection)
            existing.discard(collection)
    if collection not in existing:
        try:
            client.create_collection(
                collection_name=collection,
                vectors_config=models.VectorParams(
                    size=dim,
                    distance=getattr(models.Distance, distance.upper(), distance),
                ),
            )
        except Exception as e:  # noqa: BLE001
            if not _already_exists(e):  # create race: another writer won
                raise
    kind_map = {
        "text": models.PayloadSchemaType.TEXT,
        "keyword": models.PayloadSchemaType.KEYWORD,
        "integer": models.PayloadSchemaType.INTEGER,
        "datetime": models.PayloadSchemaType.DATETIME,
    }
    have = existing_payload_indexes(client, collection)
    for field, kind in PAYLOAD_INDEXES.items():
        if field in have:
            continue
        try:
            client.create_payload_index(
                collection_name=collection,
                field_name=field,
                field_schema=kind_map[kind],
            )
        except Exception as e:  # noqa: BLE001
            if not _already_exists(e):  # real failures must surface
                raise


#: bounded upsert retry policy: attempts per batch and the
#: deterministic backoff ladder (seconds) between them — no jitter,
#: so tests and reruns see identical behavior
UPSERT_MAX_ATTEMPTS = 3
UPSERT_BACKOFF_S = (0.5, 2.0)


def upsert_batches(
    client: Any,
    point_cls: Any,
    rows: Iterable[Row],
    collection: str,
    batch_size: int = DEFAULT_BATCH_SIZE,
    max_attempts: int = UPSERT_MAX_ATTEMPTS,
    sleep=None,
) -> Iterator[int]:
    """Bounded bulk upserts against an already-built client.

    Failure semantics (r9 verdict #7): TRANSIENT errors (timeouts,
    connection resets, 429/5xx, gRPC UNAVAILABLE — _is_transient) get
    up to `max_attempts` tries with the deterministic UPSERT_BACKOFF_S
    ladder; upserts are idempotent by point id, so a retry after a
    half-applied batch is safe. Non-transient errors and exhausted
    retries PROPAGATE — a silently-dropped batch is data loss, and the
    task-level retry (Spark's own) is the next line of defense. The
    caller owns client lifecycle; `sleep` is injectable for tests."""
    import time as _time

    do_sleep = sleep if sleep is not None else _time.sleep
    for batch in batched(rows, batch_size):
        points = [
            point_cls(id=p["id"], vector=p["vector"], payload=p["payload"])
            for p in batch
        ]
        for attempt in range(max_attempts):
            try:
                client.upsert(collection_name=collection, points=points)
                break
            except Exception as e:  # noqa: BLE001
                if attempt + 1 >= max_attempts or not _is_transient(e):
                    raise
                do_sleep(UPSERT_BACKOFF_S[min(attempt, len(UPSERT_BACKOFF_S) - 1)])
        yield len(batch)


def _default_client_factory(url: str, prefer_grpc: bool = True):
    """(client, point_cls) pair from the real qdrant-client — the one
    import-gated seam. Tests inject a picklable fake factory instead
    (tests/test_qdrant_sink.py drives index_to_qdrant end-to-end through
    real Spark workers that way; the package is absent here)."""
    from qdrant_client import QdrantClient, models  # noqa: PLC0415

    return QdrantClient(url=url, prefer_grpc=prefer_grpc), models.PointStruct


def upsert_partition(
    rows: Iterable[Row],
    collection: str,
    url: str,
    batch_size: int = DEFAULT_BATCH_SIZE,
    prefer_grpc: bool = True,
    client_factory=None,
) -> Iterator[int]:
    """foreachPartition body: one client per partition (per executor
    task), bounded batches, gRPC preferred (reference config.py:52-53).
    Yields per-batch counts so mapPartitions can surface totals.

    client_factory: optional picklable `url -> (client, point_cls)`
    override; defaults to the real qdrant-client."""
    factory = client_factory or _default_client_factory
    client, point_cls = factory(url) if client_factory else factory(url, prefer_grpc)
    try:
        yield from upsert_batches(client, point_cls, rows, collection, batch_size)
    finally:
        client.close()


def index_to_qdrant(
    df: DataFrame,
    collection: str,
    url: str,
    dim: int,
    batch_size: int = DEFAULT_BATCH_SIZE,
    client_factory=None,
    models: Any = None,
) -> int:
    """The batch indexing job: DDL once on the driver, then partition-
    parallel bulk upsert. Returns rows indexed.

    Partition sizing: aim for ~50-200k rows per partition so each task
    holds one bounded batch in flight; repartition upstream if the
    ingest produced skewed partitions.

    client_factory/models are injectable for contract tests (the
    end-to-end fake-client run in tests/test_qdrant_sink.py); both
    default to the real qdrant-client.
    """
    if client_factory is None:
        driver_client, _ = _default_client_factory(url, prefer_grpc=False)
    else:
        driver_client, _ = client_factory(url)
    ensure_collection(driver_client, collection, dim, models=models)
    counts = df.rdd.mapPartitions(
        lambda rows: upsert_partition(
            rows, collection, url, batch_size, client_factory=client_factory
        )
    )
    return int(math.fsum(counts.collect()) if counts is not None else 0)

