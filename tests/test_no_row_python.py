"""Lint: no per-row Python in the engine.  Python crossings go through
Arrow-batched pandas UDFs / mapInPandas; a row-at-a-time UDF, an RDD
map or a per-group Python state machine fails this scan."""

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
SCANNED = ("geoio_jl_spark", "jobs")
# `pandas_udf(` has no word boundary before `udf`, so only plain
# (row-at-a-time) UDFs match the udf patterns
FORBIDDEN = re.compile(
    r"applyInPandasWithState|\budf\s*\(|@udf\b|\.udf\.register"
    r"|\.rdd\.(map|flatMap|filter|foreach)")


def _hits(text: str) -> list[tuple[int, str]]:
    return [(n, line.strip())
            for n, line in enumerate(text.splitlines(), 1)
            if FORBIDDEN.search(line)]


def test_pattern_catches_row_python():
    bad = ["grouped.applyInPandasWithState(fn, out, st, 'append')",
           "f = F.udf(lambda x: x + 1, 'long')", "@udf('string')",
           "spark.udf.register('f', g)", "df.rdd.map(lambda r: r[0])",
           "df.rdd.flatMap(f)"]
    ok = ["@F.pandas_udf(BinaryType())", "fn = pandas_udf(g, 'long')",
          "return _map_udf(StringType(), f)(col)", "df.mapInPandas(f, s)"]
    assert [bool(_hits(s)) for s in bad] == [True] * len(bad)
    assert [bool(_hits(s)) for s in ok] == [False] * len(ok)


def test_no_per_row_python_in_engine():
    found = [f"{path.relative_to(ROOT)}:{n}: {line}"
             for d in SCANNED
             for path in sorted((ROOT / d).rglob("*.py"))
             for n, line in _hits(path.read_text(encoding="utf-8"))]
    assert found == [], "per-row Python:\n" + "\n".join(found)
