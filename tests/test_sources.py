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

import pytest
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


@pytest.fixture
def scratch_dirs(monkeypatch) -> list[str]:
    """The scratch dirs the source queries make, in the order made."""
    from pythonmapreduce_spark.plans import materialize
    from pythonmapreduce_spark.sources import readers

    made: list[str] = []

    def recording(name: str) -> str:
        made.append(materialize.run_scratch(name))
        return made[-1]

    monkeypatch.setattr(readers, "run_scratch", recording)
    return made


def test_compaction_reduces_file_count(spark, sf_oracle, scratch_dirs) -> None:
    """The fragmented write has many files and the compacted one at most
    two; both are the run's own scratch dirs, removed once it returns."""
    import glob

    from pythonmapreduce_spark.plans import registry

    registry.load_all()

    def sink(df):
        frag_dir, comp_dir = scratch_dirs
        assert all(f.startswith("file://" + comp_dir) for f in df.inputFiles())
        return (
            df.count(),
            len(glob.glob(os.path.join(frag_dir, "*.parquet"))),
            len(glob.glob(os.path.join(comp_dir, "*.parquet"))),
        )

    n_rows, n_frag, n_comp = registry.run_query(spark, "sink_compaction", sf_oracle, sink)
    assert n_rows > 0
    assert n_frag >= 16
    assert n_comp <= 2
    assert not any(os.path.exists(d) for d in scratch_dirs)


def test_jdbc_round_trip_shuts_its_database_down(spark, sf_smoke, scratch_dirs) -> None:
    """The JDBC round trip's Derby database is shut down, then removed,
    when its run ends: a database still booted in the JVM would accept a
    connection after its directory is gone."""
    from py4j.protocol import Py4JJavaError

    from pythonmapreduce_spark.plans import registry

    registry.load_all()
    assert registry.run_query(spark, "source_roundtrip_jdbc", sf_smoke, lambda df: df.count()) == 25
    [scratch] = scratch_dirs
    assert not os.path.exists(scratch)
    with pytest.raises(Py4JJavaError, match="not found"):
        spark._jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:{scratch}/db")


@pytest.mark.parametrize("name", ["sink_dynamic_overwrite", "source_roundtrip_csv"])
def test_concurrent_runs_of_one_query_match_the_oracle(spark, sf_smoke, name) -> None:
    """The REST server's regime: two threads run the same query on the
    shared session at once, round after round. Each run writes its own
    scratch dir, so neither overwrites the files the other reads."""
    from concurrent.futures import ThreadPoolExecutor

    from pythonmapreduce_spark.plans import registry
    from tests.harness import run_compare

    registry.load_all()
    with ThreadPoolExecutor(max_workers=2) as pool:
        for _ in range(4):
            runs = [pool.submit(run_compare, spark, sf_smoke, name) for _ in range(2)]
            for run in runs:
                run.result()


def test_cli_surface() -> None:
    """The __main__ CLI: list/oracle work without a SparkSession."""
    from pythonmapreduce_spark.__main__ import main

    assert main(["list"]) == 0
    assert main(["oracle", "wordcount"]) == 0
    assert main(["oracle", "dedup_near"]) == 1  # rows-only


def test_run_scratch_removes_dead_process_roots(tmp_path, monkeypatch) -> None:
    """The first ``run_scratch`` in a process removes the scratch roots of
    processes that no longer run and keeps the roots of live ones and the
    shared refwire frame cache; its exit hook removes only its own root."""
    import atexit

    from pythonmapreduce_spark.plans import materialize

    parent = tmp_path / "pmr_spark_io"
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(materialize, "_scratch_root", None)
    hooks: list = []
    monkeypatch.setattr(atexit, "register", lambda *a, **kw: hooks.append((a, kw)))

    dead = 999_999  # find a pid that demonstrably does not exist
    while True:
        try:
            os.kill(dead, 0)
        except ProcessLookupError:
            break
        except OSError:
            pass
        dead -= 1
    for name in (f"pid{dead}/csv_x", "pid1/csv_y", "refwire_books/abc"):
        (parent / name).mkdir(parents=True)

    path = materialize.run_scratch("probe_")

    own = parent / f"pid{os.getpid()}"
    assert os.path.dirname(path) == str(own)
    assert sorted(p.name for p in parent.iterdir()) == sorted(["pid1", own.name, "refwire_books"])
    [((fn, *args), kw)] = hooks
    fn(*args, **kw)
    assert sorted(p.name for p in parent.iterdir()) == ["pid1", "refwire_books"]


def test_run_scratch_lives_for_one_run() -> None:
    """A scratch dir made inside a run scope goes when the scope closes;
    one made outside any scope stays until the process exits, and then
    the process's root goes with it."""
    import subprocess
    import sys

    from pythonmapreduce_spark.plans.materialize import run_scope, run_scratch

    with run_scope():
        path = run_scratch("probe_")
        assert os.path.isdir(path)
    assert not os.path.exists(path)

    script = (
        "from pythonmapreduce_spark.plans.materialize import run_scratch\n"
        "path = run_scratch('probe_')\n"
        "open(path + '/f', 'w').close()\n"
        "print(path)\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    done = subprocess.run(
        [sys.executable, "-c", script], cwd=repo, capture_output=True, text=True, timeout=60
    )
    assert done.returncode == 0, done.stderr
    path = done.stdout.strip()
    assert path and not os.path.exists(os.path.dirname(path))


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
