"""Executor-side UDF kernels must serialize BY VALUE.

A module-level function referenced from a mapInPandas /
applyInPandasWithState / pandas_udf closure is cloudpickled BY
REFERENCE (``subont.x.y``), which makes every executor python worker
``import subont`` — and fail when the SparkSession predates the
package's PYTHONPATH export or no ``--py-files`` shipped it to a real
cluster.  Each kernel is therefore factory-made (``<locals>``
qualname → pickled by value).  This test round-trips every kernel
through cloudpickle and executes it in a SUBPROCESS whose sys.path
cannot import subont: a regression to by-reference pickling fails with
ModuleNotFoundError there.
"""

import pickle
import subprocess
import sys

import cloudpickle


def _roundtrip_in_clean_subprocess(obj, probe_code: str, tmp_path) -> str:
    blob = tmp_path / "kernel.pkl"
    blob.write_bytes(cloudpickle.dumps(obj))
    code = (
        "import sys\n"
        "sys.path = [p for p in sys.path if 'repo' not in p and 'subont' not in p]\n"
        "sys.modules.pop('subont', None)\n"
        "import pickle\n"
        f"fn = pickle.load(open({str(blob)!r}, 'rb'))\n"
        "assert 'subont' not in sys.modules, 'unpickle imported subont'\n"
        + probe_code
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, cwd="/tmp"
    )
    assert out.returncode == 0, out.stderr
    return out.stdout


def test_gap_split_unpickles_without_subont(tmp_path):
    from subont.streaming import gap_split

    stdout = _roundtrip_in_clean_subprocess(
        gap_split,
        "import pandas as pd\n"
        "ts = pd.Series(pd.to_datetime(['2025-01-01 00:00:00', '2025-01-01 02:00:00']))\n"
        "closed, st = fn(ts, (None, None, 0), 3600)\n"
        "print('CLOSED', len(closed))\n",
        tmp_path,
    )
    assert "CLOSED 1" in stdout


def test_statement_scan_unpickles_without_subont(tmp_path):
    from subont.extract import _make_statement_scan

    stdout = _roundtrip_in_clean_subprocess(
        _make_statement_scan(),
        "import pandas as pd\n"
        "pdf = pd.DataFrame({'repo': ['r'], 'path': ['p'], 'commit': ['c'],\n"
        "                    'content': ['isa(C1, C2) attr(C3_a1, R4, C5)']})\n"
        "rows = list(fn(iter([pdf])))\n"
        "print('STMTS', sum(len(r) for r in rows))\n",
        tmp_path,
    )
    assert "STMTS 2" in stdout


def test_verhoeff_digit_unpickles_without_subont(tmp_path):
    from subont.rf2 import _verhoeff_digit

    stdout = _roundtrip_in_clean_subprocess(
        _verhoeff_digit,
        "print('DIGIT', fn('236'))\n",  # 236 -> check digit 3 (public vector)
        tmp_path,
    )
    assert "DIGIT 3" in stdout


def test_fake_decode_unpickles_without_subont(tmp_path):
    from subont.multimodal import _fake_decode

    stdout = _roundtrip_in_clean_subprocess(
        _fake_decode,
        "v = fn(b'payload', 'image', 4)\n"
        "print('DIM', len(v))\n",
        tmp_path,
    )
    assert "DIM 4" in stdout


def test_verhoeff_col_matches_python_oracle(spark):
    """The JVM-native check-digit expression (no python worker, nothing
    to pickle) equals the python oracle ``_verhoeff_digit`` on 120k id
    bodies of 1 to 18 digits, including the RF2 relationship-id shape."""
    from pyspark.sql import functions as F

    from subont.rf2 import _verhoeff_digit, verhoeff_col

    n = 120_000
    bodies = spark.range(n).select(
        F.expr(
            "CASE WHEN id % 3 = 0 THEN concat(cast(id + 101 AS string), '100000302') "
            "ELSE substring(concat(cast(id * 7919 + 104729 AS string), cast(id * 31 + 7 AS string), "
            "cast(id AS string)), 1, cast(id % 18 + 1 AS int)) END"
        ).alias("body")
    )
    got = bodies.select("body", verhoeff_col("body").alias("sctid")).collect()
    assert len(got) == n
    bad = [(r.body, r.sctid) for r in got if r.sctid != r.body + str(_verhoeff_digit(r.body))]
    assert not bad, bad[:5]
