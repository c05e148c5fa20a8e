"""Multimodal image operators + the full checkpointed E/T/L pipeline run on a
reference-shaped fixture (FIXTURES.md §A1/§A6), with an injected fetcher (no
network) and the RawGrid codec (no PIL)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from wicsmmiretl_spark.multimodal.images import (
    CompressTransformation,
    RawGrid,
    ResizeTransformation,
    WebPTransformation,
    apply_image_transformations,
    decode_image_metadata,
    fetch_images,
    transformations_from_config,
)
from wicsmmiretl_spark.plans.config import PipelineConfig
from wicsmmiretl_spark.plans.pipeline import CaptionPipeline


def _img(seed: int, w: int = 96, h: int = 80) -> bytes:
    rng = np.random.default_rng(seed)
    return RawGrid.encode(rng.integers(0, 255, size=(h, w, 3), dtype=np.uint8).astype(np.uint8))


def _make_fake_fetcher():
    """Deterministic 'network': bytes derived from the url; urls containing
    'missing' fail both attempts (exercises the P7 null path). Returned as a
    closure — module-level test functions can't be unpickled on executors
    (the tests package isn't on the Python-worker path), closures serialize
    by value."""
    import struct as _struct

    import numpy as _np

    def fetch(url: str, fallback: str | None) -> bytes | None:
        if "missing" in url:
            return None
        seed = sum(url.encode()) % 1000
        rng = _np.random.default_rng(seed)
        arr = rng.integers(0, 255, size=(80, 96, 3), dtype=_np.uint8).astype(_np.uint8)
        return b"RG" + _struct.pack(">HHH", 96, 80, 3) + arr.tobytes()

    return fetch


fake_fetcher = _make_fake_fetcher()


def test_rawgrid_roundtrip():
    arr = np.arange(96 * 80 * 3, dtype=np.uint8).reshape(80, 96, 3)
    assert np.array_equal(RawGrid.decode(RawGrid.encode(arr)), arr)


def test_transform_chain(spark):
    df = spark.createDataFrame(
        [(1, _img(1), "png"), (2, b"garbage-not-an-image", "png")],
        "wikicaps_id long, content binary, format string",
    )
    chain = [ResizeTransformation(32, 32), CompressTransformation(4), WebPTransformation()]
    out = {r.wikicaps_id: r for r in apply_image_transformations(df, chain).collect()}
    arr = RawGrid.decode(bytes(out[1].content))
    assert arr.shape[0] <= 32 and arr.shape[1] <= 32
    assert out[1].format == "webp"
    assert (arr & 0x0F == 0).all()  # low bits quantized away
    assert out[2].content is None  # decode failure -> NULL, not exception


def test_decode_metadata(spark):
    df = spark.createDataFrame(
        [(1, _img(7, w=50, h=40)), (2, None)], "wikicaps_id long, content binary"
    )
    out = {r.wikicaps_id: r for r in decode_image_metadata(df).collect()}
    assert (out[1].width, out[1].height, out[1].channels) == (50, 40, 3)
    assert 0 <= out[1].mean_intensity <= 255
    assert out[2].width is None


def test_fetch_with_injected_fetcher(spark):
    df = spark.createDataFrame(
        [(1, "http://ok/a", "http://fb/a"), (2, "http://missing/b", "http://fb/b")],
        "wikicaps_id long, url string, fallback_url string",
    )
    out = {r.wikicaps_id: r.content for r in fetch_images(df, fetcher=fake_fetcher).collect()}
    assert out[1] is not None and out[2] is None


def test_fetch_keeps_every_input_column(spark):
    """Column-preserving fetch: input columns (array<string> included) pass
    through unchanged, ``content`` is appended, a failed fetch keeps its
    row's metadata with NULL content."""
    schema = "wikicaps_id long, url string, fallback_url string, ne_texts array<string>, score double"
    rows = [
        (1, "http://ok/a", "http://fb/a", ["Berlin", "Ada Lovelace"], 0.5),
        (2, "http://missing/b", "http://fb/b", [], None),
        (3, "http://ok/c", None, None, 2.0),
    ]
    df = spark.createDataFrame(rows, schema)
    out = fetch_images(df, fetcher=fake_fetcher)
    assert out.columns == df.columns + ["content"]
    assert out.schema["content"].dataType.simpleString() == "binary"
    got = {r.wikicaps_id: r for r in out.collect()}
    for row in rows:
        assert tuple(got[row[0]])[:-1] == row
    assert got[1].content is not None and got[3].content is not None
    assert got[2].content is None


def test_transform_keeps_columns_and_marks_success_only(spark):
    """Column-preserving chain: every column passes through unchanged except
    ``content`` and ``format``; a decode failure (garbage or NULL bytes)
    keeps its metadata with NULL content and its old format, and only rows
    that succeeded become ``webp``."""
    rows = [
        (1, "a caption", ["Ada"], _img(1), "png"),
        (2, "garbage", ["x", "y"], b"garbage-not-an-image", "png"),
        (3, "no bytes", None, None, "png"),
    ]
    df = spark.createDataFrame(
        rows, "wikicaps_id long, caption string, ne_texts array<string>, content binary, format string"
    )
    chain = [ResizeTransformation(32, 32), WebPTransformation()]
    out = apply_image_transformations(df, chain)
    assert out.columns == df.columns
    got = {r.wikicaps_id: r for r in out.collect()}
    for row in rows:
        assert tuple(got[row[0]])[:3] == row[:3]
    assert got[1].format == "webp" and got[1].content is not None
    assert max(RawGrid.decode(bytes(got[1].content)).shape[:2]) <= 32
    for k in (2, 3):
        assert got[k].content is None and got[k].format == "png"


def test_transformations_from_config_rejects_unknown():
    with pytest.raises(ValueError, match="unknown image transformation"):
        transformations_from_config([{"type": "hologram"}])


@pytest.fixture(scope="module")
def caption_fixture(tmp_path_factory):
    """~120-row reference-shaped caption list; ~10% URLs fail."""
    p = tmp_path_factory.mktemp("captions") / "list.csv"
    rows = []
    for i in range(120):
        nwords = 3 + (i % 20)
        words = " ".join(f"word{j}" for j in range(nwords))
        fname = f"File:missing{i}.png" if i % 10 == 0 else f"File:img{i}.png"
        rows.append(f"{i}|||{fname}|||{words}. Second sentence here number {i}.")
    p.write_text("\n".join(rows), encoding="utf-8")
    return str(p)


def _config(caption_fixture, out_dir) -> PipelineConfig:
    return PipelineConfig.from_dict(
        {
            "input": {"caption_list": caption_fixture},
            "output": {"dir": str(out_dir)},
            "seed": 1312,
            "max_samples": 50,
            "filters": [{"column": "num_tok", "min": 8, "max": 100}],
            "transformations": [
                {"type": "resize", "max_width": 32, "max_height": 32},
                {"type": "webp"},
            ],
        }
    )


def _url_from_file(df):
    return df.withColumn("url", F.concat(F.lit("http://test/"), F.col("wikimedia_file"))).withColumn(
        "fallback_url", F.concat(F.lit("http://test-fb/"), F.col("wikimedia_file"))
    )


def test_pipeline_end_to_end(spark, caption_fixture, tmp_path):
    cfg = _config(caption_fixture, tmp_path / "out")
    pipe = CaptionPipeline(spark, cfg, fetcher=fake_fetcher, url_builder=_url_from_file)
    paths = pipe.run()

    meta = spark.read.parquet(paths["metadata"])
    # filters + sample applied: <= max_samples, all num_tok in bounds, no failures
    assert 0 < meta.count() <= 50
    assert meta.filter((F.col("num_tok") <= 8) | (F.col("num_tok") >= 100)).count() == 0
    assert meta.filter(F.col("format") != "webp").count() == 0
    csv = spark.read.option("header", "true").csv(paths["dataset"])
    assert csv.columns == ["wikimedia_file", "caption"]
    assert csv.count() == meta.count()


def test_pipeline_stage_metrics_observed(spark, caption_fixture, tmp_path):
    """Stage metrics ride the checkpoint write via df.observe — no extra
    count() jobs. fetch_failures + surviving rows must reconcile."""
    cfg = _config(caption_fixture, tmp_path / "out3")
    pipe = CaptionPipeline(spark, cfg, fetcher=fake_fetcher, url_builder=_url_from_file)
    extracted = pipe.extract()
    m = pipe.stage_metrics["extract"]
    assert m["rows_after_filter"] == extracted.count() + m["fetch_failures"]
    assert m["fetch_failures"] > 0  # fixture plants ~10% missing files
    pipe.transform()
    t = pipe.stage_metrics["transform"]
    assert t["rows_transformed"] >= t["transform_failures"]


def test_pipeline_checkpoint_resume(spark, caption_fixture, tmp_path):
    cfg = _config(caption_fixture, tmp_path / "out2")
    pipe = CaptionPipeline(spark, cfg, fetcher=fake_fetcher, url_builder=_url_from_file)
    first = pipe.extract().count()

    def exploding_fetcher(url, fb):
        raise AssertionError("fetcher must not be called on checkpoint resume")

    pipe2 = CaptionPipeline(spark, cfg, fetcher=exploding_fetcher, url_builder=_url_from_file)
    second = pipe2.extract().count()
    assert second == first  # resumed from checkpoint, no re-fetch (O2)


def test_pipeline_transform_resume_skips_fetch_and_chain(spark, caption_fixture, tmp_path, monkeypatch):
    """With the transformed checkpoint on disk, a new pipeline neither
    fetches nor runs the transformation chain, and loads the same rows."""
    import wicsmmiretl_spark.plans.pipeline as pipeline_mod

    cfg = _config(caption_fixture, tmp_path / "out4")
    first = CaptionPipeline(spark, cfg, fetcher=fake_fetcher, url_builder=_url_from_file)
    n = first.transform().count()

    def must_not_run(*args, **kwargs):
        raise AssertionError("must not run on transform-stage resume")

    monkeypatch.setattr(pipeline_mod, "fetch_images", must_not_run)
    monkeypatch.setattr(pipeline_mod, "apply_image_transformations", must_not_run)
    second = CaptionPipeline(spark, cfg, fetcher=must_not_run, url_builder=_url_from_file)
    paths = second.run()
    assert spark.read.parquet(paths["metadata"]).count() == n


def test_pipeline_run_is_four_join_free_jobs(spark, jobs_and_plans, caption_fixture, tmp_path):
    """A full run submits exactly 4 jobs (two checkpoint writes, metadata,
    CSV), and no write plan joins or broadcasts: image bytes never leave the
    task that fetched them."""
    cfg = _config(caption_fixture, tmp_path / "out5")
    pipe = CaptionPipeline(spark, cfg, fetcher=fake_fetcher, url_builder=_url_from_file)
    jobs, plans = jobs_and_plans(pipe.run)
    assert jobs == 4
    assert len(plans) == 4
    for plan in plans:
        assert "Join" not in plan and "BroadcastExchange" not in plan, plan


def test_synth_images_roundtrip(spark):
    from wicsmmiretl_spark.multimodal.images import RawGrid, synth_images

    df = spark.range(0, 10).withColumnRenamed("id", "doc_id")
    rows = {r.doc_id: r for r in synth_images(df, "doc_id").collect()}
    arr = RawGrid.decode(bytes(rows[3].content))
    assert arr.shape == (8 + 21 % 64, 8 + 3 % 64)
    assert arr[0, 0] == 3 and arr[1, 2] == (3 + 3 + 10) % 256


def test_persist_images_npy_roundtrip(spark, tmp_path):
    import numpy as np

    from wicsmmiretl_spark.multimodal.images import persist_images, synth_images, RawGrid

    df = spark.range(0, 8).withColumnRenamed("id", "doc_id")
    imgs = synth_images(df, "doc_id")
    dst = str(tmp_path / "imgs")
    persist_images(imgs, dst, fmt="npy", id_col="doc_id")
    rows = {r.doc_id: bytes(r.content) for r in imgs.collect()}
    for k, blob in rows.items():
        arr = np.load(f"{dst}/{k}.npy")
        assert (arr == RawGrid.decode(blob)).all()


def test_persist_images_rejects_unknown_format(spark):
    import pytest as _pytest

    from wicsmmiretl_spark.multimodal.images import persist_images, synth_images

    df = spark.range(0, 2).withColumnRenamed("id", "doc_id")
    imgs = synth_images(df, "doc_id")
    with _pytest.raises(ValueError):
        persist_images(imgs, "/tmp/never", fmt="bmp", id_col="doc_id")


def test_persist_images_jpg_sink(spark, tmp_path):
    """S8 jpg sink without PIL: every written file is a decodable baseline
    JPEG whose pixels are close to the source (lossy — PSNR-gated)."""
    import numpy as np

    from wicsmmiretl_spark.multimodal.images import RawGrid, persist_images, synth_images
    from wicsmmiretl_spark.multimodal.jpeg import decode_jpeg

    df = spark.range(0, 4).withColumnRenamed("id", "doc_id")
    imgs = synth_images(df, "doc_id")
    dst = str(tmp_path / "jpgs")
    persist_images(imgs, dst, fmt="jpg", id_col="doc_id")
    rows = {r.doc_id: bytes(r.content) for r in imgs.collect()}
    for k, blob in rows.items():
        data = open(f"{dst}/{k}.jpg", "rb").read()
        assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
        src = RawGrid.decode(blob)
        back = decode_jpeg(data)
        assert back.shape == src.shape
        mse = float(np.mean((back.astype(float) - src.astype(float)) ** 2))
        psnr = 99.0 if mse == 0 else 10 * np.log10(255**2 / mse)
        assert psnr > 25.0, psnr


def test_jpeg_codec_roundtrip_and_structure():
    """Stdlib baseline-JPEG codec: valid marker structure, deterministic
    bytes, and round-trip PSNR sane for gray + RGB, including dimensions
    that are not multiples of 8 (edge-padded blocks)."""
    import numpy as np

    from wicsmmiretl_spark.multimodal.jpeg import decode_jpeg, encode_jpeg

    def psnr(a, b):
        mse = float(np.mean((a.astype(float) - b.astype(float)) ** 2))
        return 99.0 if mse == 0 else 10 * np.log10(255**2 / mse)

    h, w = 37, 53  # deliberately not multiples of 8
    gray = np.outer(np.linspace(0, 255, h), np.ones(w)).astype(np.uint8)
    blob = encode_jpeg(gray, quality=85)
    assert blob[:2] == b"\xff\xd8" and blob[-2:] == b"\xff\xd9"
    assert b"JFIF\x00" in blob[:24]
    assert encode_jpeg(gray, quality=85) == blob  # deterministic
    back = decode_jpeg(blob)
    assert back.shape == (h, w) and psnr(gray, back) > 40

    rgb = np.stack(
        [
            np.tile(np.linspace(0, 255, 64), (48, 1)),
            np.tile(np.linspace(255, 0, 48)[:, None], (1, 64)),
            np.full((48, 64), 96.0),
        ],
        axis=-1,
    ).astype(np.uint8)
    back3 = decode_jpeg(encode_jpeg(rgb, quality=85))
    assert back3.shape == rgb.shape and psnr(rgb, back3) > 35

    # quality knob monotonicity: lower quality -> smaller payload
    assert len(encode_jpeg(rgb, quality=30)) < len(encode_jpeg(rgb, quality=95))

    import pytest as _pytest

    with _pytest.raises(ValueError):
        encode_jpeg(np.zeros((4, 4, 2), dtype=np.uint8))
    with _pytest.raises(ValueError):
        decode_jpeg(b"not a jpeg")


def test_png_codec_roundtrip():
    """Stdlib PNG encoder/decoder: pixel-exact round trip for gray, RGB and
    RGBA, and the signature/IHDR layout is real PNG (byte-level check)."""
    import numpy as np

    from wicsmmiretl_spark.multimodal.images import decode_png, encode_png

    rng = np.random.default_rng(7)
    for shape in ((13, 9), (8, 5, 3), (4, 6, 4)):
        arr = rng.integers(0, 256, size=shape, dtype=np.uint8)
        blob = encode_png(arr)
        assert blob[:8] == b"\x89PNG\r\n\x1a\n"
        assert blob[12:16] == b"IHDR"
        back = decode_png(blob)
        assert back.shape == arr.shape and (back == arr).all()


def test_decode_png_handles_all_scanline_filters():
    """decode_png must read PNGs from OTHER encoders too — craft a file per
    filter type (Sub/Up/Average/Paeth) and check pixels survive."""
    import struct as _struct
    import zlib

    import numpy as np

    from wicsmmiretl_spark.multimodal.images import decode_png

    rng = np.random.default_rng(11)
    arr = rng.integers(0, 256, size=(6, 4, 3), dtype=np.uint8).astype(np.int32)
    h, w, c = arr.shape
    for ftype in (1, 2, 3, 4):
        lines = []
        prev = np.zeros(w * c, np.int32)
        for y in range(h):
            cur = arr[y].reshape(-1)
            filt = np.zeros(w * c, np.int32)
            for x in range(w * c):
                left = cur[x - c] if x >= c else 0
                up = prev[x]
                ul = prev[x - c] if x >= c else 0
                if ftype == 1:
                    base = left
                elif ftype == 2:
                    base = up
                elif ftype == 3:
                    base = (left + up) // 2
                else:
                    p = left + up - ul
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                    base = left if pa <= pb and pa <= pc else (up if pb <= pc else ul)
                filt[x] = (cur[x] - base) & 0xFF
            lines.append(bytes([ftype]) + filt.astype(np.uint8).tobytes())
            prev = cur

        def chunk(tag, data):
            return _struct.pack(">I", len(data)) + tag + data + _struct.pack(
                ">I", zlib.crc32(tag + data) & 0xFFFFFFFF
            )

        blob = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", _struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(b"".join(lines)))
            + chunk(b"IEND", b"")
        )
        assert (decode_png(blob) == arr.astype(np.uint8)).all(), f"filter {ftype}"


def test_persist_images_png_roundtrip(spark, tmp_path):
    """S8 png sink without PIL: executor-written PNGs decode pixel-exact."""
    import numpy as np

    from wicsmmiretl_spark.multimodal.images import (
        RawGrid,
        decode_png,
        persist_images,
        synth_images,
    )

    df = spark.range(0, 6).withColumnRenamed("id", "doc_id")
    imgs = synth_images(df, "doc_id")
    dst = str(tmp_path / "pngs")
    persist_images(imgs, dst, fmt="png", id_col="doc_id")
    rows = {r.doc_id: bytes(r.content) for r in imgs.collect()}
    assert rows
    for k, blob in rows.items():
        with open(f"{dst}/{k}.png", "rb") as f:
            arr = decode_png(f.read())
        assert (arr == RawGrid.decode(blob)).all()


def test_binary_file_source_roundtrip(spark, tmp_path):
    """persist_images (S8) → read_binary_files → decode: the disk round trip."""
    import numpy as np

    from wicsmmiretl_spark.multimodal.images import RawGrid, persist_images, synth_images
    from wicsmmiretl_spark.sources.io import read_binary_files

    df = spark.range(0, 6).withColumnRenamed("id", "doc_id")
    imgs = synth_images(df, "doc_id")
    dst = str(tmp_path / "bin")
    # npy files hold the decoded arrays; write raw RawGrid blobs alongside
    persist_images(imgs, dst, fmt="npy", id_col="doc_id")
    files = read_binary_files(spark, dst, glob="*.npy").collect()
    assert len(files) == 6
    expect = {r.doc_id: RawGrid.decode(bytes(r.content)) for r in imgs.collect()}
    import io as _io

    for f in files:
        k = int(f.path.rsplit("/", 1)[1].split(".")[0])
        arr = np.load(_io.BytesIO(bytes(f.content)))
        assert (arr == expect[k]).all()
        assert f.length == len(bytes(f.content))


def test_rawvideo_roundtrip_and_frame_sampling(spark):
    import numpy as np

    from wicsmmiretl_spark.multimodal.images import RawVideo, sample_frames, synth_videos

    frames = [np.full((4, 4), i, dtype=np.uint8) for i in range(5)]
    assert all((a == b).all() for a, b in zip(RawVideo.decode(RawVideo.encode(frames)), frames))

    df = spark.range(0, 12).withColumnRenamed("id", "doc_id")
    vids = synth_videos(df, "doc_id")
    out = sample_frames(vids, every_k=2, id_col="doc_id").collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r.frame_idx)
    for k, idxs in by_doc.items():
        n_frames = 1 + k % 7
        assert sorted(idxs) == list(range(0, n_frames, 2))
