"""The fetch layer: the per-worker zipimport fix, the vectorized
synthetic transport and its one-row views, and the batched codec kernels
it is built on."""

import importlib
import sys
import zipfile
import zipimport

import numpy as np
import pyarrow as pa
import pytest

from oa_spider_spark import datagen, worker
from oa_spider_spark.frontier.fetch import FETCH_FIELDS, synthetic_fetch_batch
from oa_spider_spark.kernels.codec import (
    average_hash,
    average_hash_canvas,
    decode_image,
    encode_canvas,
    encode_image,
    psnr,
)

below_313 = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13+ zipimport only drops the cache entry"
)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A one-module archive on sys.path, a counter of its directory reads,
    and the stock invalidate_caches restored afterwards."""
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zmod_a.py", "X = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == str(archive):
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield archive, reads
    for name in ("zmod_a", "zmod_b"):
        sys.modules.pop(name, None)


@below_313
def test_prepare_worker_skips_unchanged_archive(zip_on_path):
    archive, reads = zip_on_path
    assert importlib.import_module("zmod_a").X == 1
    n = len(reads)
    importlib.invalidate_caches()
    assert len(reads) == n + 1  # stock zipimport re-reads on every call
    worker.prepare_worker()
    worker.prepare_worker()  # idempotent
    importlib.invalidate_caches()  # first call stamps the archive
    n = len(reads)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == n


@below_313
def test_prepare_worker_rereads_rewritten_archive(zip_on_path):
    archive, reads = zip_on_path
    importlib.import_module("zmod_a")
    worker.prepare_worker()
    importlib.invalidate_caches()
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zmod_a.py", "X = 1\n")
        z.writestr("zmod_b.py", "Y = 2\n")
    n = len(reads)
    importlib.invalidate_caches()
    assert len(reads) == n + 1
    assert importlib.import_module("zmod_b").Y == 2


def _branch(seed: int, attempt: int) -> str:
    if seed % datagen.FATAL_MOD == 0:
        return "fatal"
    if seed % datagen.STALL_MOD == 0:
        return "stall"
    if seed % datagen.RETRY_MOD == 0 and attempt == 0:
        return "transient"
    if seed % datagen.SLOW_MOD == 0 and attempt == 0:
        return "slow"
    return "ok_png" if seed % 2 == 0 else "ok_jpeg"


def _covering_urls(n_bulk: int = 600) -> tuple[list[str], list[int]]:
    """n_bulk consecutive URLs (more than one chunk) plus, at attempts 0
    and 1, the first URL of every taxonomy branch."""
    hs = datagen.hosts(20)
    urls = [datagen.url_of(hs[i % 20], "doc" if i % 3 else "mail", 3_000_000 + i) for i in range(n_bulk)]
    attempts = [i % 2 for i in range(n_bulk)]
    want = {"fatal", "stall", "transient", "slow", "ok_png", "ok_jpeg"}
    i = 0
    while want:
        u = datagen.url_of(hs[i % 20], "doc", 4_000_000 + i)
        b = _branch(datagen._seed_of(u), 0)
        if b in want:
            want.discard(b)
            urls += [u, u]
            attempts += [0, 1]
        i += 1
    return urls, attempts


def test_fetch_batch_equals_per_row_fetch_url():
    urls, attempts = _covering_urls()
    cols = datagen.fetch_batch(urls, attempts, 20)
    branches = set()
    for i, (u, a) in enumerate(zip(urls, attempts)):
        ref = datagen.fetch_url(u, attempt=a, n_hosts=20)
        row = {k: cols[k][i].as_py() for k in cols}
        assert row.pop("nbytes") == (len(ref.bytes) if ref.bytes else 0)
        assert row == vars(ref), u
        seed = datagen._seed_of(u)
        branches.add((_branch(seed, a), a))
        if ref.status == "ok":
            img = datagen.synth_image(seed)
            assert (ref.h, ref.w) == img.shape
            assert ref.caption == datagen.synth_caption(seed)
            assert ref.phash == average_hash(img)
            assert psnr(decode_image(ref.bytes), img) >= 40.0
            if ref.fmt == "png":
                assert np.array_equal(decode_image(ref.bytes), img)
    assert {b for b, _ in branches} == {"fatal", "stall", "transient", "slow", "ok_png", "ok_jpeg"}
    assert {a for _, a in branches} == {0, 1}


def test_fetch_batch_synthesizes_in_bounded_chunks(monkeypatch):
    sizes = []
    canvas = datagen._canvas

    def recording(seeds):
        sizes.append(len(seeds))
        return canvas(seeds)

    monkeypatch.setattr(datagen, "_canvas", recording)
    urls, attempts = _covering_urls(3 * datagen.CHUNK_ROWS)
    datagen.fetch_batch(urls, attempts, 20)
    assert len(sizes) > 1 and max(sizes) <= datagen.CHUNK_ROWS


def test_canvas_kernels_match_per_image_kernels():
    """average_hash_canvas and encode_canvas equal average_hash and
    encode_image for every image shape the generator draws."""
    rng = np.random.default_rng(7)
    ws = np.arange(24, 65)
    for h in range(24, 65):
        canvas = rng.integers(0, 256, (len(ws), 64, 64), dtype=np.uint8)
        hs = np.full(len(ws), h)
        png = (ws + h) % 2 == 0
        hashes = average_hash_canvas(canvas, hs, ws)
        payloads = encode_canvas(canvas, hs, ws, png)
        for i, w in enumerate(ws):
            img = canvas[i, :h, :w]
            assert hashes[i] == average_hash(img), (h, w)
            assert payloads[i] == encode_image(img, "png" if png[i] else "jpeg"), (h, w)


def test_synthetic_fetch_batch_accepts_probe_batch():
    """The two-column batch the benchmark's transport probe builds."""
    urls = [datagen.url_of("h001.example.org", "doc", 9_000_000 + i) for i in range(50)]
    batch = pa.RecordBatch.from_arrays(
        [pa.array(urls, pa.string()), pa.array([0] * 50, pa.int32())],
        names=["url_canon", "attempt"],
    )
    out = synthetic_fetch_batch(batch, 20)
    assert out.schema.names == ["url_canon", "attempt"] + [f.name for f in FETCH_FIELDS]
    assert out.schema.field("attempt").type == pa.int32()
    for f in FETCH_FIELDS:
        assert out.schema.field(f.name).type == f.type
    assert out.column("status").to_pylist() == [datagen.fetch_url(u).status for u in urls]
