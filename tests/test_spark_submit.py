"""spark-submit --py-files deployment smoke test (the north rule's run mode).

Evidence that the engine deploys the way the rule prescribes — `spark-submit
--py-files <pkg.zip> cli.py ...` — with NOTHING but the zip providing the
package: the driver script is copied to a neutral temp dir, the subprocess
env drops PYTHONPATH, and the working directory contains no jvector_spark/,
so every `import jvector_spark` (driver AND executor side, via the udf
closures) must resolve from the --py-files zip. Search results must be
rank-identical and float64 bit-equal to the numpy BM25 oracle, same contract
as the in-process tests (the reference's GraphIndexTestCase-style exactness
assertions; jvector-tests/.../TestVectorGraph.java:89-330).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

REPO = Path(__file__).resolve().parent.parent


def _spark_submit_bin() -> str:
    b = shutil.which("spark-submit")
    if b:
        return b
    import pyspark

    cand = Path(pyspark.__file__).parent / "bin" / "spark-submit"
    if cand.exists():
        return str(cand)
    pytest.skip("spark-submit not on PATH and no pyspark bin/ fallback")


def _clean_env() -> dict:
    env = dict(os.environ)
    # the whole point: the repo must NOT be importable except via the zip
    env.pop("PYTHONPATH", None)
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    env.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)
    return env


def _last_json_line(stdout: str) -> dict:
    for line in reversed(stdout.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            try:
                return json.loads(line)
            except ValueError:
                continue
    raise AssertionError(f"no JSON status line in stdout:\n{stdout[-2000:]}")


def _submit(args: list[str], zip_path: str, driver: Path, cwd: Path) -> dict:
    cmd = [
        _spark_submit_bin(),
        "--master", "local[2]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=4",
        "--py-files", zip_path,
        str(driver), *args,
    ]
    proc = subprocess.run(
        cmd, cwd=cwd, env=_clean_env(), capture_output=True, text=True,
        timeout=900,
    )
    assert proc.returncode == 0, (
        f"spark-submit failed ({proc.returncode})\n"
        f"STDOUT:\n{proc.stdout[-3000:]}\nSTDERR:\n{proc.stderr[-3000:]}"
    )
    return _last_json_line(proc.stdout)


def test_spark_submit_pyfiles_build_search(
    tmp_path, corpus_pdf, queries_pdf, oracle
):
    # 1. package zip via the documented module entry point
    zp = subprocess.run(
        [sys.executable, "-m", "jvector_spark.session_zip"],
        cwd=REPO, capture_output=True, text=True, timeout=120,
    )
    assert zp.returncode == 0, zp.stderr[-2000:]
    zip_path = zp.stdout.strip().splitlines()[-1]
    assert zip_path.endswith(".zip") and os.path.exists(zip_path)

    # 2. neutral launch dir: driver script copy + data, no package on disk
    driver = tmp_path / "driver.py"
    shutil.copyfile(REPO / "jvector_spark" / "cli.py", driver)
    corpus_path = tmp_path / "corpus.parquet"
    pq.write_table(pa.Table.from_pandas(corpus_pdf), corpus_path)
    queries = queries_pdf.head(12).reset_index(drop=True)
    q_path = tmp_path / "queries.jsonl"
    with open(q_path, "w") as f:
        for _, q in queries.iterrows():
            f.write(json.dumps({
                "qid": int(q["qid"]),
                "terms": list(q["terms"]),
                "k": int(q["k"]),
            }) + "\n")

    idx = tmp_path / "idx"
    out = tmp_path / "out.parquet"

    # 3. build, then search, each in its own spark-submit JVM
    built = _submit(
        ["build", "--input", str(corpus_path), "--index", str(idx),
         "--segments", "4"],
        zip_path, driver, tmp_path,
    )
    assert built["n_docs"] == len(corpus_pdf)
    assert built["built"] == built["segments"] == 4

    searched = _submit(
        ["search", "--index", str(idx), "--queries", str(q_path),
         "--output", str(out)],
        zip_path, driver, tmp_path,
    )
    assert searched["queries"] == len(queries)

    # 4. rank-identical + bit-equal scores vs the numpy oracle
    got = (
        pq.read_table(out).to_pandas()
        .sort_values(["qid", "rank"]).reset_index(drop=True)
    )
    golden = (
        oracle.golden(queries)
        .sort_values(["qid", "rank"]).reset_index(drop=True)
    )
    assert list(got["qid"]) == list(golden["qid"])
    assert list(got["docid"]) == list(golden["docid"])
    assert np.array_equal(got["score"].to_numpy(), golden["score"].to_numpy())


def test_get_spark_master_parse_tolerates_commas():
    """local[4,2] (Spark's local-with-maxFailures syntax) and
    local-cluster[2,1,1024] must not crash shuffle-partition inference
    (review finding: int('4,2') raised before the session was built)."""
    from jvector_spark.session import _infer_shuffle_partitions as infer

    assert infer("local[4,2]") == 4
    assert infer("local-cluster[2,1,1024]") == 2
    assert infer("local[*]") == 32
    assert infer("spark://host:7077") == 32


@pytest.mark.parametrize("form", ["--py-files {}", "--py-files={}",
                                  "--py-files='{}'"])
def test_ensure_importable_parses_pyfiles_forms(tmp_path, monkeypatch, form):
    """The sessionless CLI fast paths put the --py-files zip on sys.path
    from PYSPARK_SUBMIT_ARGS, in every spelling spark-submit accepts."""
    from jvector_spark import cli

    zip_path = tmp_path / "pkg.zip"
    zip_path.write_bytes(b"")
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS",
                       "--master local[1] " + form.format(zip_path)
                       + " pyspark-shell")
    monkeypatch.setattr(sys, "path", list(sys.path))
    # the package looks absent, as on a Spark 4 driver before the zip
    # is on the import path
    monkeypatch.setitem(sys.modules, "jvector_spark", None)
    cli._ensure_importable()
    assert sys.path[0] == str(zip_path)
