"""Edge-case fixtures for the multimodal tier's byte arithmetic.

The committed fixtures never hit two hazards the oracles must survive:
(a) a blob whose byte length mod 64 is >= 32 AND whose tail bytes are
shared by another doc — where DuckDB's rounding CAST(nb/64 AS BIGINT)
used to mint a phantom tail chunk (caught by direct review, round 4;
the sweeps missed it because no fixture doc pair shares such a tail);
(b) multi-byte text whose chunk boundary SPLITS a UTF-8 character —
chunks are bytes, so both engines must hash the same byte slices even
when neither slice is valid UTF-8 on its own.

These tests build a crafted sf_dir (all ten tables; documents replaced)
and run the REAL registered queries against their REAL oracles through
the same differential harness the rest of the suite uses.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pytest

from pythonmapreduce_spark import catalog
from pythonmapreduce_spark.plans import registry
from tests.harness import run_compare

registry.load_all()

# doc 1 and 2: identical 190-byte ASCII text (190 % 64 = 62 >= 32 → the
# rounding CAST would emit chunk 2; truncation must not). doc 3 and 4:
# identical text whose 64-byte boundary lands INSIDE a 3-byte CJK char
# (63 ASCII bytes then '間' = 3 bytes spanning 64..66). doc 5: unique.
_DOCS = [
    (1, "x" * 190, "en", "src_1"),
    (2, "x" * 190, "en", "src_2"),
    (3, "y" * 63 + "間" + "z" * 80, "ja", "src_1"),
    (4, "y" * 63 + "間" + "z" * 80, "ja", "src_2"),
    (5, "unique " * 30, "en", "src_3"),
    # CDC window edges: below the 8-byte rolling window (no interior
    # boundary possible) and exactly at it (one window, landing on nb —
    # which must NOT cut: the final chunk ends there unconditionally).
    # Duplicated so the single whole-payload chunk crosses the n_docs>=2
    # share filter and actually appears in the compared output.
    (6, "abc", "en", "src_1"),
    (7, "abc", "en", "src_2"),
    (8, "12345678", "en", "src_1"),
    (9, "12345678", "en", "src_2"),
]


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory, sf_smoke) -> str:
    d = tmp_path_factory.mktemp("mm_edge")
    for t in catalog.TABLES:
        if t != "documents":
            shutil.copyfile(
                catalog.table_path(sf_smoke, t), os.path.join(d, f"{t}.parquet")
            )
    con = duckdb.connect()
    con.sql(
        "CREATE TABLE docs(doc_id BIGINT, text VARCHAR, lang VARCHAR, source VARCHAR)"
    )
    con.executemany("INSERT INTO docs VALUES (?, ?, ?, ?)", _DOCS)
    con.sql(
        f"""COPY (SELECT doc_id, text, lang, source,
                   CAST(LENGTH(text) AS BIGINT) AS n_chars FROM docs)
            TO '{d}/documents.parquet' (FORMAT PARQUET)"""
    )
    return str(d)


@pytest.mark.parametrize(
    "name",
    [
        "media_chunk_dedup",
        "media_chunk_cdc",
        "multimodal_features",
        "frame_sample",
        "image_resize",
        "audio_decode_wav",
    ],
)
def test_multimodal_oracle_on_edge_corpus(spark, edge_dir, name) -> None:
    run_compare(spark, edge_dir, name)


def test_phantom_tail_chunk_absent(spark, edge_dir) -> None:
    # docs 1+2 are 190 identical bytes → exactly TWO full 64-byte chunks
    # shared; a rounding oracle would claim a third (the 62-byte tail)
    out = {
        r["chunk_hash"]: (r["n_docs"], r["n_copies"])
        for r in registry.QUERIES["media_chunk_dedup"](spark, edge_dir).collect()
    }
    con = duckdb.connect()
    con.sql(
        f"CREATE OR REPLACE VIEW documents AS"
        f" SELECT * FROM read_parquet('{edge_dir}/documents.parquet')"
    )
    want = {
        r[0]: (r[1], r[2])
        for r in con.sql(registry.ORACLES["media_chunk_dedup"]).fetchall()
    }
    assert out == want
    # 190 // 64 == 2 full chunks; the x-doc pair contributes exactly one
    # distinct repeated chunk_hash ('x'*64 twice per doc, deduped by hash)
    # and the y/CJK pair contributes its own chunks — no hash may claim
    # more copies than floor-division chunking allows
    assert all(copies <= 4 for _, copies in out.values())


def test_wav_codec_roundtrip_unit() -> None:
    # The REAL stdlib WAV codec, no Spark: header fields and samples must
    # survive the container round trip bit-exact, and the canonical
    # header is 44 bytes (the container_bytes oracle pin).
    import pandas as pd

    from pythonmapreduce_spark.pipeline.multimodal import _wav_roundtrip

    src = pd.DataFrame({"doc_id": [7, 123456], "n": [16, 271]})
    (out,) = list(_wav_roundtrip(iter([src])))
    assert list(out["n_frames"]) == [16, 271]
    assert set(out["framerate"]) == {8000}
    assert set(out["sampwidth"]) == {2}
    assert set(out["n_channels"]) == {1}
    assert list(out["container_bytes"]) == [44 + 2 * 16, 44 + 2 * 271]
    # checksum matches the deterministic PCM formula independently
    for doc_id, n, got in zip(src["doc_id"], src["n"], out["checksum"]):
        want = sum((int(doc_id) * 31 + i * 17) % 65536 - 32768 for i in range(int(n)))
        assert int(got) == want


def test_image_codec_roundtrip_unit() -> None:
    # Real image decode is now ALWAYS available: PIL/imageio when
    # installed, the engine's stdlib PNG codec otherwise — the probe must
    # never resolve to None in a working CPython environment.
    import numpy as np

    from pythonmapreduce_spark.pipeline import multimodal as mm

    assert mm._IMAGE_CODEC is not None
    grid = (np.arange(48, dtype=np.uint8) * 5 % 256).reshape(6, 8)
    back = mm.decode_image(mm.encode_image(grid))
    assert np.array_equal(np.asarray(back).reshape(6, 8), grid)


def test_image_codec_probe_requires_working_roundtrip(monkeypatch) -> None:
    """The capability probe must key off an EXECUTED encode→decode round
    trip, not import success: an imageio present without a PNG-capable
    plugin imports fine but throws on first use, and must fall through
    to the stdlib PNG tier instead of failing inside executor tasks."""
    import sys
    import types

    from pythonmapreduce_spark.pipeline import multimodal as mm

    # No PIL, and an imageio.v3 that imports but raises on use.
    broken = types.ModuleType("imageio.v3")
    broken.imwrite = lambda *a, **k: (_ for _ in ()).throw(
        RuntimeError("no PNG plugin installed")
    )
    broken.imread = broken.imwrite
    pkg = types.ModuleType("imageio")
    pkg.v3 = broken
    monkeypatch.setitem(sys.modules, "PIL", None)  # import PIL -> ImportError
    monkeypatch.setitem(sys.modules, "imageio", pkg)
    monkeypatch.setitem(sys.modules, "imageio.v3", broken)
    assert mm._probe_image_codec() == "stdlib"

    # An imageio whose decode does not invert encode must also be rejected
    # (falls through to the stdlib tier, never selected itself).
    import numpy as np

    lossy = types.ModuleType("imageio.v3")
    lossy.imwrite = lambda uri, arr, extension: b"payload"
    lossy.imread = lambda payload, extension: np.zeros((3, 3), dtype=np.uint8)
    pkg2 = types.ModuleType("imageio")
    pkg2.v3 = lossy
    monkeypatch.setitem(sys.modules, "imageio", pkg2)
    monkeypatch.setitem(sys.modules, "imageio.v3", lossy)
    assert mm._probe_image_codec() == "stdlib"

    # ...and a stdlib tier whose round trip is broken resolves to None —
    # the NotImplementedError guards' only remaining path. (Patch the
    # package attribute too: once imported, `from pkg import mod` binds
    # the attribute, not the sys.modules entry.)
    import pythonmapreduce_spark.pipeline as pipeline_pkg

    real_pngc = getattr(mm, "_pngc", None)
    broken_pngc = types.ModuleType("png_codec")
    broken_pngc.encode_png = lambda arr: b"payload"
    broken_pngc.decode_png = lambda payload: np.zeros((3, 3), dtype=np.uint8)
    monkeypatch.setitem(
        sys.modules, "pythonmapreduce_spark.pipeline.png_codec", broken_pngc
    )
    monkeypatch.setattr(pipeline_pkg, "png_codec", broken_pngc, raising=False)
    assert mm._probe_image_codec() is None
    if real_pngc is not None:  # restore module-global codec binding
        mm._pngc = real_pngc
