"""The benchmark's output checks must reject corrupted outputs.

Each test runs one workload iteration on a small generated input, shows
the check passes on the untouched output, then corrupts one output file
(a dropped sink row, a flipped token, a changed cast value, a duplicated
packed document) and shows the check names the damage.  The file name
keeps it out of the repository's own test collection; run it by path::

    python3 -m pytest benchmark/corruption_checks.py -q
"""

from __future__ import annotations

import glob
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

ROWS = 3000


@pytest.fixture(scope="module")
def spark():
    from ulp_spark.session import get_spark

    s = get_spark("benchmark-checks", master="local[2]", extra_conf={
        "spark.sql.shuffle.partitions": "4",
        "spark.ui.showConsoleProgress": "false",
    })
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _run(spark, tmp_path, workload):
    data, out = str(tmp_path / "data"), str(tmp_path / "out")
    summary = gen.generate(workload, 7, ROWS, data, 2)
    wl = WORKLOADS[workload](spark, Tracer(False), data, out, summary)
    wl.warm()
    res = wl.run()
    assert wl.check(res) == []
    return wl, res


def _first_file(root: str, route: str = "") -> str:
    """The first non-empty parquet file under ``root`` (in the sink of
    ``route``, if given)."""
    sub = f"route={route}" if route else ""
    for f in sorted(glob.glob(os.path.join(root, sub, "**", "*.parquet"),
                              recursive=True)):
        if pq.read_metadata(f).num_rows > 0:
            return f
    raise AssertionError(f"no output under {root}")


def _rewrite(path: str, fn) -> None:
    """Replace one parquet file's table by ``fn(table)``, and drop the
    checksum file the local filesystem would otherwise verify on read."""
    pq.write_table(fn(pq.read_table(path)), path)
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def _flip_first_token(t: pa.Table) -> pa.Table:
    i = t.schema.get_field_index("tokens")
    toks = t.column(i).to_pylist()
    toks[0] = [(toks[0][0] + 1) % gen.VOCAB] + toks[0][1:]
    return t.set_column(i, t.schema.field(i),
                        pa.array(toks, t.schema.field(i).type))


def _set_first_cast(t: pa.Table) -> pa.Table:
    i = t.schema.get_field_index("n__cast")
    vals = t.column(i).to_pylist()
    vals[0] = str(int(vals[0]) + 1)
    return t.set_column(i, t.schema.field(i), pa.array(vals, pa.string()))


# a dropped row, and a changed value that leaves every row count right,
# in each of the two sinks
@pytest.mark.parametrize("sink,corrupt,message", [
    ("records", lambda t: t.slice(1), "record sink rows/cast digests"),
    ("records", _set_first_cast, "record sink rows/cast digests"),
    ("tokens", lambda t: t.slice(1), "token sink rows/token digests"),
    ("tokens", _flip_first_token, "token sink rows/token digests"),
], ids=["dropped_record", "changed_cast", "dropped_token_row",
        "flipped_token"])
def test_route_fanout_rejects_corrupt_sink(spark, tmp_path, sink, corrupt,
                                           message):
    wl, res = _run(spark, tmp_path, "route_fanout")
    _rewrite(_first_file(res[sink], "evtx_none"), corrupt)
    bad = wl.check(res)
    assert any(message in b for b in bad), bad


def test_token_pack_rejects_duplicated_document(spark, tmp_path):
    wl, res = _run(spark, tmp_path, "token_pack")
    _rewrite(_first_file(res["path"]),
             lambda t: pa.concat_tables([t, t.slice(0, 1)]))
    bad = wl.check(res)
    assert any("unexpected or repeated" in b for b in bad), bad
