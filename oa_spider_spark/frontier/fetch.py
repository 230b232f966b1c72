"""The vectorized fetch/decode stage (S6/S7/S8 → one `mapInArrow` hop).

The reference fetches sequentially — document i+1 waits for every byte of
document i (`oa.py:178-213`); here each Spark task streams Arrow batches
of frontier rows through a batch fetch function. Binary payloads ride
`pyarrow.binary()` arrays end-to-end (no pandas object-dtype copies —
SURVEY.md §7 hard-part 4).

In production the batch function would hold a per-worker connection pool
(module-level singleton, the analog of the reference's one
`requests.Session` per site, oa.py:99-106) and issue concurrent HTTP
requests per batch. In the sandbox the transport is the deterministic
synthetic universe (`datagen.fetch_batch`, one call per Arrow batch) —
same plumbing, pure function instead of sockets.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame

from .. import datagen
from ..worker import prepare_worker

# Arrow-level output schema of the fetch stage. Input columns are passed
# through; these are appended.
FETCH_FIELDS = [
    pa.field("status", pa.string()),
    pa.field("bytes", pa.binary()),
    pa.field("nbytes", pa.int64()),
    pa.field("w", pa.int32()),
    pa.field("h", pa.int32()),
    pa.field("fmt", pa.string()),
    pa.field("caption", pa.string()),
    pa.field("phash", pa.int64()),
    pa.field("links", pa.list_(pa.string())),
    pa.field("elapsed_ms", pa.int64()),
    pa.field("reason", pa.string()),
]

FETCH_OUT_DDL = (
    "status string, bytes binary, nbytes long, w int, h int, fmt string, "
    "caption string, phash long, links array<string>, elapsed_ms long, "
    "reason string"
)


def synthetic_fetch_batch(batch: pa.RecordBatch, n_hosts: int) -> pa.RecordBatch:
    """Fetch every row of one Arrow batch against the synthetic universe
    with one `datagen.fetch_batch` call. Pure function of (url_canon,
    attempt) — identical on every executor."""
    cols = datagen.fetch_batch(
        batch.column("url_canon").to_pylist(),
        batch.column("attempt").fill_null(0).to_numpy(zero_copy_only=False),
        n_hosts,
    )
    return pa.RecordBatch.from_arrays(
        list(batch.columns) + [cols[f.name] for f in FETCH_FIELDS],
        names=batch.schema.names + [f.name for f in FETCH_FIELDS],
    )


def fetch_stage(selected: DataFrame, n_hosts: int = 20, fetch_fn=None) -> DataFrame:
    """Append fetch columns to the selected frontier rows via mapInArrow.

    `fetch_fn(batch, n_hosts) -> batch + FETCH_FIELDS` swaps the
    transport: default is the deterministic synthetic universe; the
    production HTTP transport is
    `transport.http_fetch_batch_fn()` (same contract, real sockets —
    tested against a local server in tests/test_transport.py)."""
    fn = fetch_fn or synthetic_fetch_batch

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        prepare_worker()
        for b in batches:
            if b.num_rows:
                yield fn(b, n_hosts)

    in_ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in selected.schema.fields)
    return selected.mapInArrow(run, schema=f"{in_ddl}, {FETCH_OUT_DDL}")
