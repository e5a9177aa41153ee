"""Connector robustness: malformed input must not kill a 100 TB job.

PERMISSIVE mode (Spark's default) parses what it can and quarantines the
rest into the corrupt-record column — the behavior a large ingest needs;
FAILFAST is the strict alternative. The reference silently DROPS malformed
records with a bare length check (/root/reference/reducer_node.py:41-42);
here the bad rows stay visible and attributable.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F
from pyspark.sql import types as T


def test_permissive_read_quarantines_corrupt_rows(spark) -> None:
    path = os.path.join(tempfile.mkdtemp(prefix="corrupt_"), "rows.jsonl")
    with open(path, "w") as fh:
        fh.write('{"k": 1, "v": "a"}\n')
        fh.write("this is not json\n")
        fh.write('{"k": 2, "v": "b"}\n')
        fh.write('{"k": "not-a-number", "v": "c"}\n')

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
        .cache()  # corrupt-record queries need the full row materialized
    )
    good = df.where(F.col("_corrupt").isNull())
    bad = df.where(F.col("_corrupt").isNotNull())
    assert good.count() == 2
    assert sorted(r["k"] for r in good.collect()) == [1, 2]
    # both the non-JSON line and the type-mismatched row are quarantined,
    # with the raw text preserved for forensics
    assert bad.count() == 2
    raw = [r["_corrupt"] for r in bad.collect()]
    assert any("not json" in s for s in raw)
    assert any("not-a-number" in s for s in raw)
    df.unpersist()


def test_compaction_reduces_file_count(spark, sf_oracle) -> None:
    import glob
    import os

    from pythonmapreduce_spark.plans import registry
    from pythonmapreduce_spark.sources.readers import _scratch_keyed

    registry.load_all()
    df = registry.QUERIES["sink_compaction"](spark, sf_oracle)
    assert df.count() > 0
    # derive the SAME (pid, session, input)-keyed dirs the query wrote —
    # asserting on the old fixed names would inspect stale leftovers from
    # earlier runs instead of this invocation's output
    frag_dir = _scratch_keyed(spark, "documents_fragmented", sf_oracle)
    comp_dir = _scratch_keyed(spark, "documents_compacted", sf_oracle)
    frag = glob.glob(os.path.join(frag_dir, "*.parquet"))
    comp = glob.glob(os.path.join(comp_dir, "*.parquet"))
    assert len(frag) >= 16
    assert len(comp) <= 2


def test_cli_surface() -> None:
    """The __main__ CLI: list/oracle work without a SparkSession."""
    from pythonmapreduce_spark.__main__ import main

    assert main(["list"]) == 0
    assert main(["oracle", "wordcount"]) == 0
    assert main(["oracle", "dedup_near"]) == 1  # rows-only


def test_sweep_stale_scratch_rules(tmp_path, monkeypatch) -> None:
    """The once-per-process scratch sweep bounds the pmr_spark_io key
    space via three rules: dead-pid keyed entries (any of the three pid
    patterns) go unconditionally, live-foreign-pid entries go only past
    the age limit, and non-pid entries go when legacy-listed or aged —
    with the live fixed-name allowlist immune even at any age."""
    import time

    from pythonmapreduce_spark.sources import readers

    root = tmp_path / "pmr_spark_io"
    root.mkdir()
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(readers, "_SWEPT_STALE", False)

    dead = 999_999  # find a pid that demonstrably does not exist
    while True:
        try:
            os.kill(dead, 0)
        except ProcessLookupError:
            break
        except OSError:
            pass
        dead -= 1

    old = time.time() - readers._SCRATCH_AGE_LIMIT_S - 60
    gone, kept = [], []

    def mk(name: str, aged: bool = False) -> str:
        p = root / name
        p.mkdir()
        if aged:
            os.utime(p, (old, old))
        return name

    # rule 1: dead-pid entries, all three patterns
    gone.append(mk(f"nation_csv_pid{dead}_ab12cd34_ef56ab78"))
    gone.append(mk(f"derby_db_{dead}"))
    gone.append(mk(f"documents_prov_{dead}"))
    gone.append(mk(f"documents_dyn_overwrite_{dead}"))
    # rule 2: live foreign pid (pid 1 always exists) — aged goes, fresh stays
    gone.append(mk("region_json_pid1_ab12cd34_ef56ab78", aged=True))
    kept.append(mk("part_xml_pid1_ab12cd34_ef56ab78"))
    # own pid is never touched, even aged
    kept.append(mk(f"own_pid{os.getpid()}_ab12cd34_ef56ab78", aged=True))
    # rule 3: legacy fixed names go on sight; unknown names only when aged
    gone.append(mk("nation_csv"))
    gone.append(mk("documents_fragmented"))
    gone.append(mk("mystery_aged", aged=True))
    kept.append(mk("mystery_fresh"))
    # allowlisted fixed-name cache survives any age
    kept.append(mk("refwire_books", aged=True))

    readers._sweep_stale_scratch()

    remaining = sorted(p.name for p in root.iterdir())
    assert remaining == sorted(kept)
    assert not any((root / g).exists() for g in gone)


def test_scratch_keyed_reuse_refreshes_mtime(tmp_path, monkeypatch, spark) -> None:
    """Liveness must reset the age clock: a keyed dir a live driver keeps
    reusing would otherwise cross _SCRATCH_AGE_LIMIT_S (dir mtime only
    moves on direct-child writes) and a FOREIGN process's rule-2 sweep
    could rmtree it mid-serve. _scratch_keyed touches the dir on every
    call, so a reused dir is always younger than the limit."""
    import time

    from pythonmapreduce_spark.sources import readers

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(readers, "_SWEPT_STALE", True)  # isolate from the sweep

    path = readers._scratch_keyed(spark, "mtime_probe", "/some/sf_dir")
    os.makedirs(path)
    old = time.time() - readers._SCRATCH_AGE_LIMIT_S - 60
    os.utime(path, (old, old))
    assert readers._scratch_keyed(spark, "mtime_probe", "/some/sf_dir") == path
    assert time.time() - os.path.getmtime(path) < readers._SCRATCH_AGE_LIMIT_S


def test_frame_books_ignores_stale_frames(tmp_path) -> None:
    """The refwire frame cache is keyed by the corpus digest: frames left
    in the fixed-name cache by an earlier or absent corpus (an empty dir,
    a book no longer shipped) are never served, and a second call reuses
    the published frames."""
    import glob

    from pythonmapreduce_spark.sources.refwire import _frame_books
    from pythonmapreduce_spark.sources.text_corpus import BOOKS_DIR

    cache = tmp_path / "refwire_books"
    (cache / "stale").mkdir(parents=True)
    (cache / "gone_book.txt.wire").write_text("#\r#gone_book.txt#\r#stale words")

    out = _frame_books(str(cache))
    books = sorted(os.path.basename(p) for p in glob.glob(os.path.join(BOOKS_DIR, "*.txt")))
    assert books and sorted(os.listdir(out)) == [b + ".wire" for b in books]
    assert _frame_books(str(cache)) == out
    # framed like the reference, with the leading BOM dropped
    with open(os.path.join(out, books[0] + ".wire"), encoding="utf-8", newline="") as fh:
        first = fh.read()
    assert first.startswith(f"#\r#{books[0]}#\r#") and "\ufeff" not in first
