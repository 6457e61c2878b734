"""Session-scoped state: the (session, sf, name) memo and the per-process
temp root that the query families build their persisted indexes in."""

import os
import subprocess
import sys
import uuid

import pytest

from conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _name():
    return f"test_{uuid.uuid4().hex}"


def test_session_memo_builds_once_per_key(spark):
    from ocr_vector_db_spark.session import session_memo

    calls = []

    def build():
        calls.append(1)
        return object()

    name = _name()
    first = session_memo(spark, "sf_a", name, build)
    assert session_memo(spark, "sf_a", name, build) is first
    assert len(calls) == 1


def test_session_memo_keys_on_sf(spark):
    # every memo key carries sf, so a plan built for one scale is never
    # served at another (the former q147 key had no sf)
    from ocr_vector_db_spark.session import session_memo

    name = _name()
    a = session_memo(spark, "sf_a", name, lambda: ["a"])
    b = session_memo(spark, "sf_b", name, lambda: ["b"])
    assert (a, b) == (["a"], ["b"])
    assert session_memo(spark, "sf_a", name, lambda: ["x"]) is a


def test_session_memo_stores_nothing_when_build_raises(spark):
    from ocr_vector_db_spark.session import session_memo

    name = _name()

    def fail():
        raise ValueError("build failed")

    with pytest.raises(ValueError):
        session_memo(spark, "sf_a", name, fail)
    assert session_memo(spark, "sf_a", name, lambda: 42) == 42


def test_load_table_returns_the_memoized_frame(spark):
    from ocr_vector_db_spark.session import load_table

    assert load_table(spark, SF_DIR, "documents") is load_table(
        spark, SF_DIR, "documents"
    )


def test_session_tempdirs_are_removed_at_exit():
    code = (
        "from ocr_vector_db_spark.session import session_tempdir\n"
        "a = session_tempdir('lexidx_')\n"
        "b = session_tempdir('ivfidx_')\n"
        "open(a + '/part-0.parquet', 'w').write('x')\n"
        "print(a)\n"
        "print(b)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, check=True,
        stdout=subprocess.PIPE, text=True,
    ).stdout.split()
    assert len(out) == 2 and out[0] != out[1]
    assert os.path.dirname(out[0]) == os.path.dirname(out[1])
    for d in out + [os.path.dirname(out[0])]:
        assert not os.path.exists(d)
