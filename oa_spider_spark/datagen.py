"""Deterministic synthetic web universe.

The reference crawls live portals over HTTP (`oa.py` session calls); the
sandbox has no network, and BASELINE.json mandates deterministic tests, so
fetching is replaced by a *pure function of the canonical URL* — the same
function drives the Spark `mapInArrow` fetch stage AND the pure-Python
reference simulator (`sim.py`), which is what makes crawl-order /
seen-set / payload equivalence checkable bit-for-bit.

Everything is seeded from ``zlib.crc32`` of the URL — no wall clock, no
global RNG state (SURVEY.md F11 note: timestamps are data).

Universe shape:
  * ``n_hosts`` hosts, ``h000.example.org`` ...; one is deliberately hot
    (a large share of seed URLs) to exercise skew handling.
  * every URL is ``http://<host>/<kind>/<n>`` with kind in {doc, mail}
    (docs-then-mails ordering, reference oa.py:455).
  * fetch(url) returns an image payload (png = lossless / jpeg = lossy
    stand-in), a caption exercising `clean_filename` chars, outlinks, and
    a status drawn from the reference's retry taxonomy (run.py:14-41):
    ok / retry (transient, succeeds on a later attempt) / failed (fatal).
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass, fields

import numpy as np
import pyarrow as pa

from .kernels.codec import average_hash_canvas, encode_canvas

GLOBAL_SEED = 42

# deterministic per-URL failure taxonomy (reference run.py:23-39:
# ReadTimeout -> retry; ConnectionError/LoginFail -> fatal)
RETRY_MOD = 17  # ~6% of URLs error transiently on their first attempt
FATAL_MOD = 97  # ~1% of URLs are permanently broken
# Timeout discipline (T3, reference oa.py:22 `timeout=` + run.py:23-27
# ReadTimeout handling): every fetch has a deterministic simulated service
# time; past config.FETCH_TIMEOUT_MS the fetch is abandoned — no payload,
# status 'retry', reason 'timeout' — and rides the same attempt+1 /
# dead-letter machinery as transient errors.
SLOW_MOD = 23    # ~4%: congested on the FIRST attempt only (recovers on retry)
STALL_MOD = 211  # ~0.5%: stalls on EVERY attempt -> dead-letter via MAX_ATTEMPTS
BASE_MS_MOD = 180  # fast-path service time spread: 20..199 ms

_CJK = "通知文件公告会议培训报告批复函"
_MESSY = ['<', '>', ':', '"', '/', '\\', '|', '?', '*', '\n', '.', '。']


def url_of(host: str, kind: str, n: int) -> str:
    return f"http://{host}/{kind}/{n}"


def canon_of(url: str) -> str:
    """Python twin of frontier/canon.py::canonicalize_url for the
    simulator — must agree with the Column expression (tested)."""
    no_frag = url.split("#", 1)[0]
    if "://" in no_frag:
        scheme, rest = no_frag.split("://", 1)
    else:
        scheme, rest = no_frag, no_frag
    scheme = scheme.lower()
    hostport = rest.split("/", 1)[0].split("?", 1)[0].lower()
    host = hostport
    if scheme == "http" and host.endswith(":80"):
        host = host[:-3]
    elif scheme == "https" and host.endswith(":443"):
        host = host[:-4]
    pathq = rest[len(hostport):]
    path = pathq.split("?", 1)[0]
    if "?" in pathq:
        q = pathq.split("?", 1)[1]
        sorted_q = "&".join(sorted(q.split("&")))
    else:
        sorted_q = ""
    out = f"{scheme}://{host}{path or '/'}"
    if "?" in pathq and sorted_q:
        out += "?" + sorted_q
    return out


def _seed_of(url_canon: str) -> int:
    return (zlib.crc32(url_canon.encode("utf-8")) ^ GLOBAL_SEED) & 0x7FFFFFFF


def host_index(host: str) -> int:
    return int(host.split(".", 1)[0][1:])


from functools import lru_cache


@lru_cache(maxsize=32)
def hosts(n_hosts: int) -> tuple[str, ...]:
    # tuple, not list: lru_cache returns the SAME object to every caller,
    # so a mutable list would let one caller's sort/append corrupt every
    # subsequent fetch_url host assignment process-wide.
    return tuple(f"h{i:03d}.example.org" for i in range(n_hosts))


def seed_frontier_rows(n_urls: int, n_hosts: int = 20, hot_share: float = 0.5):
    """Seed list: dicts shaped like FIXTURES.md §2 frontier rows.

    ``hot_share`` of the URLs land on host 0 (the hot host). priority and
    created_time (epoch ms, data not wall-clock) derive from the URL seed.
    Docs-then-mails: kind from n%3 (2 docs : 1 mail).
    """
    hs = hosts(n_hosts)
    rows = []
    for n in range(n_urls):
        s = _seed_of(f"seed:{n}")
        if (s % 1000) / 1000.0 < hot_share:
            host = hs[0]
        else:
            host = hs[1 + s % (n_hosts - 1)]
        kind = "doc" if n % 3 else "mail"
        url = url_of(host, kind, n)
        uc = canon_of(url)
        us = _seed_of(uc)
        rows.append(
            dict(
                url=url,
                kind=kind,
                priority=us % 100,
                created_ms=1_600_000_000_000 + (us % 10_000_000),
                depth=0,
                attempt=0,
            )
        )
    return rows


def seed_frontier_df(
    spark, n_urls: int, n_hosts: int = 20, hot_share: float = 0.5,
    round_added: int = 0, partitions: int | None = None,
):
    """Distributed twin of :func:`seed_frontier_rows`: the same seed list
    generated as Column expressions over ``spark.range`` — no driver-side
    row materialization (10^8 seeds never fit through createDataFrame).
    `F.crc32` is the same CRC-32 as ``zlib.crc32``; equality with the
    Python generator is pinned by tests/test_frontier.py."""
    from pyspark.sql import functions as F

    from .frontier.canon import with_url_columns

    nparts = partitions or spark.sparkContext.defaultParallelism
    base = spark.range(0, n_urls, 1, nparts).select(F.col("id").alias("n"))
    s = (
        F.crc32(F.encode(F.concat(F.lit("seed:"), F.col("n").cast("string")), "utf-8"))
        .bitwiseXOR(F.lit(GLOBAL_SEED))
        .bitwiseAND(F.lit(0x7FFFFFFF))
    )
    hidx = F.when(s % 1000 < int(hot_share * 1000), F.lit(0)).otherwise(
        (1 + s % (n_hosts - 1)).cast("int")
    )
    host = F.concat(F.lit("h"), F.lpad(hidx.cast("string"), 3, "0"), F.lit(".example.org"))
    kind = F.when(F.col("n") % 3 == 0, F.lit("mail")).otherwise(F.lit("doc"))
    url = F.concat(
        F.lit("http://"), host, F.lit("/"), kind, F.lit("/"), F.col("n").cast("string")
    )
    # canon_of(url) == url for seed URLs (already canonical), so the
    # priority seed is crc32 of the url itself.
    us = (
        F.crc32(F.encode(url, "utf-8"))
        .bitwiseXOR(F.lit(GLOBAL_SEED))
        .bitwiseAND(F.lit(0x7FFFFFFF))
    )
    df = base.select(
        url.alias("url"),
        kind.alias("kind"),
        (us % 100).cast("int").alias("priority"),
        (F.lit(1_600_000_000_000) + us % 10_000_000).cast("long").alias("created_ms"),
        F.lit(0).alias("depth"),
        F.lit(0).alias("attempt"),
        F.lit(round_added).alias("round_added"),
    )
    return with_url_columns(df).select(
        "url", "url_canon", "url_hash", "host", "kind",
        "priority", "created_ms", "depth", "attempt", "round_added",
    )


@dataclass
class FetchResult:
    status: str  # ok | retry | failed
    bytes: bytes | None
    w: int
    h: int
    fmt: str
    caption: str
    phash: int
    links: list[str]
    elapsed_ms: int = 0  # simulated service time, capped at FETCH_TIMEOUT_MS
    reason: str = ""     # '' (ok) | 'transient' | 'timeout' | 'connect_error'


# Images are synthesized on one padded CANVAS × CANVAS canvas per chunk
# of at most CHUNK_ROWS ok rows (~16 KB of float32 per row while it is
# built), so a worker's memory stays flat whatever the Arrow batch size.
CANVAS = 64  # largest image side: 24 + 40
CHUNK_ROWS = 256

_CJK_CODES = np.array([ord(c) for c in _CJK], dtype=np.uint32)
_CAPTION_CHARS = 13  # 6 + up to 7


def _seeds_of(url_canons) -> np.ndarray:
    """`_seed_of` over a sequence of canonical URLs → int64 array."""
    return np.fromiter(
        ((zlib.crc32(u.encode("utf-8")) ^ GLOBAL_SEED) & 0x7FFFFFFF for u in url_canons),
        dtype=np.int64, count=len(url_canons),
    )


def _draws(seeds: np.ndarray, stream: int, k: int) -> np.ndarray:
    """(n, k) uint64 draws: splitmix64 over the counter (seed, stream, j).
    Counter-based, so a row's draws never depend on the other rows of its
    batch, and one vector op replaces a Generator init per URL."""
    x = (seeds.astype(np.uint64)[:, None] << np.uint64(32)) | np.uint64(stream << 24)
    x = x | np.arange(k, dtype=np.uint64)[None, :]
    x += np.uint64(0x9E3779B97F4A7C15)
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    return x


def _dims(seeds: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(h, w) in 24..64 from mixed seed bits. The multiplicative mix
    matters: raw low bits of SMALL SEQUENTIAL seeds (test fixtures) are
    correlated — unmixed, every fixture image collapsed to one width.
    Oracle SQL (queries_media.py) recomputes these dims relationally."""
    m = (seeds * 2654435761) & 0xFFFFFFFF
    return 24 + m % 41, 24 + (m >> 8) % 41


def _canvas(seeds: np.ndarray) -> np.ndarray:
    """(n, CANVAS, CANVAS) uint8: image i is `[i, :h_i, :w_i]` of a
    deterministic greyscale test pattern (gradient + sinusoid + noise),
    smooth enough to quantize within the PSNR gate, unique per seed."""
    n = len(seeds)
    h, _ = _dims(seeds)
    x = np.arange(CANVAS, dtype=np.float64)
    # the sinusoid varies along x only, the gradient along y only
    row = 100.0 + 80.0 * np.sin(x[None, :] / (3 + seeds % 7)[:, None] + (seeds % 11)[:, None])
    col = 60.0 * (x[None, :] / h[:, None])
    img = row.astype(np.float32)[:, None, :] + col.astype(np.float32)[:, :, None]
    # noise in -10..10: eight draws per 64-bit word, each byte scaled to 0..20
    words = _draws(seeds, 0, CANVAS * CANVAS // 8).astype("<u8", copy=False)
    noise = ((words.view(np.uint8).astype(np.uint16) * 21) >> 8).astype(np.int8) - 10
    img += noise.reshape(n, CANVAS, CANVAS)
    return np.clip(img, 0, 255, out=img).astype(np.uint8)


def _captions(seeds: np.ndarray) -> list[str]:
    """Captions with CJK + filename-hostile chars (FIXTURES.md §1): 6-13
    CJK chars, then 0-2 chars from _MESSY inserted to exercise
    clean_filename. The char draw is one array op; only the insertions
    and the string assembly run per row."""
    raw = _draws(seeds, 1, 6 + _CAPTION_CHARS)
    # [0]=len, [1]=messy count, [2:4]=messy picks, [4:6]=positions, [6:]=chars
    n_chars = 6 + raw[:, 0] % 8
    codes = _CJK_CODES[raw[:, 6:] % len(_CJK)]
    codes[np.arange(_CAPTION_CHARS)[None, :] >= n_chars[:, None]] = 0  # NUL-padded
    bodies = np.ascontiguousarray(codes).view(f"<U{_CAPTION_CHARS}").ravel().tolist()
    n_messy = (raw[:, 1] % 3).tolist()
    picks = (raw[:, 2:4] % len(_MESSY)).tolist()
    positions = raw[:, 4:6].tolist()
    out = []
    for seed, text, m, pick, pos in zip(seeds.tolist(), bodies, n_messy, picks, positions):
        for j in range(m):
            at = pos[j] % (len(text) + 1)
            text = text[:at] + _MESSY[pick[j]] + text[at:]
        out.append(f"doc{seed % 100000} {text}")
    return out


def _link_host(url_canon: str) -> str:
    """Host of a `http://<host>/<kind>/<n>` URL, h000 for any other shape."""
    try:
        parts = url_canon.split("://", 1)[1].split("/")
        int(parts[2])
        return parts[0]
    except (IndexError, ValueError):
        return "h000.example.org"


def _links(seeds: np.ndarray, url_canons: list[str], n_hosts: int) -> list[list[str]]:
    """0-3 outlinks per page, 80% on the page's own host (link extraction
    analog of the parser fan-out, oa.py:583-586); depth is capped by the
    caller."""
    raw = _draws(seeds, 2, 10)
    n_links = (raw[:, 0] % 4).tolist()
    same = (raw[:, 1::3] % 10 < 8).tolist()
    other = (raw[:, 2::3] % n_hosts).tolist()
    doc = (raw[:, 3::3] % 3 != 0).tolist()
    base = (1_000_000 + (seeds % 100_000) * 10).tolist()
    hs = hosts(n_hosts)
    out = []
    for k, uc in enumerate(url_canons):
        host = _link_host(uc)
        out.append([
            url_of(host if same[k][i] else hs[other[k][i]], "doc" if doc[k][i] else "mail", base[k] + i)
            for i in range(n_links[k])
        ])
    return out


def fetch_batch(url_canons: list[str], attempts, n_hosts: int = 20) -> dict[str, pa.Array]:
    """THE deterministic fetch function over a batch of URLs (stands in
    for reference oa.py:365-397 detail fetch + oa.py:178-213 download).
    Returns one Arrow array per fetch column (frontier/fetch.py
    FETCH_FIELDS). Per URL seed s = crc32(url_canon) ^ GLOBAL_SEED:

    * fatal: s % FATAL_MOD == 0 always fails (ConnectionError class)
    * stall: s % STALL_MOD == 0 exceeds FETCH_TIMEOUT_MS on EVERY
      attempt -> abandoned at the deadline, dead-letters after
      MAX_ATTEMPTS (reference server that never answers)
    * transient failure: s % RETRY_MOD == 0 fails while attempt==0
      (reference ReadTimeout -> try2try retry, run.py:23-27)
    * slow: s % SLOW_MOD == 0 times out on attempt 0 only (congested
      server; the retry goes through)
    * otherwise: an image (png if s is even, else the lossy stand-in) +
      caption + 0-3 outlinks.

    Taxonomy, image pixels, average hashes, caption and link draws are
    array ops over the batch; only deflate and string assembly run per
    row (`zlib.compress` is the floor, 0.065-0.093 ms per image)."""
    from .config import FETCH_TIMEOUT_MS

    n = len(url_canons)
    s = _seeds_of(url_canons)
    first = np.asarray(attempts, dtype=np.int64) == 0
    fatal = s % FATAL_MOD == 0
    stall = ~fatal & (s % STALL_MOD == 0)
    transient = ~fatal & ~stall & first & (s % RETRY_MOD == 0)
    slow = ~fatal & ~stall & ~transient & first & (s % SLOW_MOD == 0)
    timeout = stall | slow
    ok = ~(fatal | timeout | transient)
    png = s % 2 == 0

    okx = np.flatnonzero(ok)
    s_ok = s[okx]
    h_ok, w_ok = _dims(s_ok)
    payload: list[bytes | None] = [None] * n
    phash = np.zeros(n, dtype=np.int64)
    for lo in range(0, len(okx), CHUNK_ROWS):
        rows = okx[lo : lo + CHUNK_ROWS]
        canvas = _canvas(s_ok[lo : lo + CHUNK_ROWS])
        hs_, ws_ = h_ok[lo : lo + CHUNK_ROWS], w_ok[lo : lo + CHUNK_ROWS]
        phash[rows] = average_hash_canvas(canvas, hs_, ws_)
        for i, b in zip(rows.tolist(), encode_canvas(canvas, hs_, ws_, png[rows])):
            payload[i] = b
    h = np.zeros(n, dtype=np.int32)
    w = np.zeros(n, dtype=np.int32)
    h[okx], w[okx] = h_ok, w_ok
    captions = [""] * n
    links: list[list[str]] = [[] for _ in range(n)]
    ok_urls = [url_canons[i] for i in okx.tolist()]
    for i, c, ls in zip(okx.tolist(), _captions(s_ok), _links(s_ok, ok_urls, n_hosts)):
        captions[i], links[i] = c, ls
    return {
        "status": pa.array(np.where(fatal, "failed", np.where(ok, "ok", "retry")), pa.string()),
        "bytes": pa.array(payload, pa.binary()),
        "nbytes": pa.array([0 if b is None else len(b) for b in payload], pa.int64()),
        "w": pa.array(w, pa.int32()),
        "h": pa.array(h, pa.int32()),
        "fmt": pa.array(np.where(ok, np.where(png, "png", "jpeg"), ""), pa.string()),
        "caption": pa.array(captions, pa.string()),
        "phash": pa.array(phash, pa.int64()),
        "links": pa.array(links, pa.list_(pa.string())),
        "elapsed_ms": pa.array(
            np.where(timeout, FETCH_TIMEOUT_MS, 20 + (s >> 7) % BASE_MS_MOD), pa.int64()
        ),
        "reason": pa.array(
            np.select([fatal, timeout, transient], ["connect_error", "timeout", "transient"], ""),
            pa.string(),
        ),
    }


def fetch_url(url_canon: str, attempt: int = 0, n_hosts: int = 20,
              max_depth: int = 2) -> FetchResult:
    """One-row view of `fetch_batch` (the simulator's sequential fetch)."""
    cols = fetch_batch([url_canon], [attempt], n_hosts)
    return FetchResult(**{f.name: cols[f.name][0].as_py() for f in fields(FetchResult)})


def synth_image(seed: int) -> np.ndarray:
    """One-row view of the fetch stage's image generator."""
    seeds = np.array([seed], dtype=np.int64)
    h, w = _dims(seeds)
    return np.ascontiguousarray(_canvas(seeds)[0, : h[0], : w[0]])


def synth_caption(seed: int) -> str:
    """One-row view of the fetch stage's caption generator."""
    return _captions(np.array([seed], dtype=np.int64))[0]


def link_priority(url_canon: str) -> int:
    return _seed_of(url_canon) % 100


def link_created_ms(url_canon: str) -> int:
    return 1_600_000_000_000 + (_seed_of(url_canon) % 10_000_000)
