"""Schema verification once per file (sim_spark/io.py).

``io.table`` infers a fixture file's parquet schema on its first load,
checks it against the pin and remembers it under the file's identity
(path, mtime, size); later loads hand the remembered schema to the
reader and submit no Spark job. These tests pin that the memo never
hides drift, that a hit reads exactly what an inferring read does, and
the durable ``materialize`` read-back that skips inference the same way.
"""

from __future__ import annotations

import hashlib
import itertools
import json

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import SF_DIR_T2 as SF  # the sf0.01 fixtures

import sim_spark.io as io
import sim_spark.queries  # noqa: F401 — populate registry
from sim_spark.registry import QUERIES
from sim_spark.testing import canonicalize, run_parity

_GROUPS = itertools.count()


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn submitted)."""
    sc = spark.sparkContext
    group = f"io-memo-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _hash(df) -> str:
    cols, rows = canonicalize(df.toPandas())
    return hashlib.sha256(json.dumps([cols, rows]).encode()).hexdigest()


def _retyped_region(src: str, dst: str) -> None:
    """The region fixture with r_regionkey widened int32 -> int64."""
    t = pq.read_table(src)
    i = t.schema.get_field_index("r_regionkey")
    pq.write_table(t.set_column(i, "r_regionkey", t.column(i).cast(pa.int64())), dst)


@pytest.mark.parametrize("name", io.TABLES)
def test_memo_hit_submits_no_job_and_reads_what_inference_reads(spark, name, monkeypatch):
    inferring, _ = _jobs(spark, lambda: io.table(spark, SF, name))
    monkeypatch.setattr(io, "_INFERRED", {})
    first, n_first = _jobs(spark, lambda: io.table(spark, SF, name))
    hit, n_hit = _jobs(spark, lambda: io.table(spark, SF, name))
    assert n_first >= 1, "an empty memo must infer (one Spark job)"
    assert n_hit == 0, f"{name}: a memo hit submitted {n_hit} Spark job(s)"
    assert hit.schema == first.schema == inferring.schema
    assert _hash(hit) == _hash(first)


def test_retyped_copy_raises_on_first_load(spark, tmp_path):
    _retyped_region(f"{SF}/region.parquet", str(tmp_path / "region.parquet"))
    with pytest.raises(TypeError, match="fixture schema drift for 'region'"):
        io.table(spark, str(tmp_path), "region")
    # a failed check is not remembered: the next load checks again
    with pytest.raises(TypeError, match="fixture schema drift"):
        io.table(spark, str(tmp_path), "region")


def test_rewritten_file_is_checked_again(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pq.read_table(f"{SF}/region.parquet"), path)
    before = io._file_identity(str(path))
    assert io.table(spark, str(tmp_path), "region").count() > 0
    _, n_hit = _jobs(spark, lambda: io.table(spark, str(tmp_path), "region"))
    assert n_hit == 0
    _retyped_region(f"{SF}/region.parquet", str(path))  # in place
    assert io._file_identity(str(path)) != before
    with pytest.raises(TypeError, match="fixture schema drift for 'region'"):
        io.table(spark, str(tmp_path), "region")


def test_path_without_identity_infers_every_load(spark, tmp_path):
    # a directory dataset is not a regular file: no memo entry
    d = tmp_path / "region.parquet"
    d.mkdir()
    pq.write_table(pq.read_table(f"{SF}/region.parquet"), d / "part-0.parquet")
    assert io._file_identity(str(d)) is None
    _, n1 = _jobs(spark, lambda: io.table(spark, str(tmp_path), "region"))
    _, n2 = _jobs(spark, lambda: io.table(spark, str(tmp_path), "region"))
    assert n1 >= 1 and n2 >= 1


def test_table_count_memo_follows_file_identity(spark, tmp_path):
    path = tmp_path / "region.parquet"
    t = pq.read_table(f"{SF}/region.parquet")
    pq.write_table(t, path)
    assert io.table_count(spark, str(tmp_path), "region") == t.num_rows
    _, n_hit = _jobs(spark, lambda: io.table_count(spark, str(tmp_path), "region"))
    assert n_hit == 0
    pq.write_table(t.slice(0, 2), path)  # rewritten: the count must move
    assert io.table_count(spark, str(tmp_path), "region") == 2


def test_nanos_events_layout_is_remembered(spark, tmp_path):
    """A TIMESTAMP(NANOS) events file: the first load pays the rejected
    inference, later loads go straight to the scoped nanosAsLong read."""
    t = pq.read_table(f"{SF}/events.parquet")
    i = t.schema.get_field_index("ts")
    ns = t.column(i).cast(pa.timestamp("ns"))
    pq.write_table(
        t.set_column(i, "ts", ns), tmp_path / "events.parquet",
        version="2.6", coerce_timestamps=None,
    )
    first, n_first = _jobs(spark, lambda: io.table(spark, str(tmp_path), "events"))
    again, n_again = _jobs(spark, lambda: io.table(spark, str(tmp_path), "events"))
    assert n_again == n_first - 1, (n_first, n_again)
    assert again.schema == first.schema
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) in (None, "false")
    assert _hash(again) == _hash(io.table(spark, SF, "events"))


def test_durable_materialize_reads_back_without_inference(spark, monkeypatch, tmp_path):
    from sim_spark.ops.materialize import materialize

    monkeypatch.delenv("SIM_SPARK_LOCAL_CHECKPOINT", raising=False)
    monkeypatch.setenv("SIM_SPARK_CHECKPOINT_DIR", str(tmp_path))
    df = io.table(spark, SF, "nation").where("n_regionkey > 1")
    _, n_write = _jobs(spark, lambda: df.write.parquet(str(tmp_path / "plain")))
    out, n_mat = _jobs(spark, lambda: materialize(df))
    assert n_mat == n_write, "the read-back must not infer the written schema"
    assert out.schema == df.schema
    assert _hash(out) == _hash(df)


def test_connected_components_durable_mode_is_hash_identical(spark, monkeypatch):
    key = "dedup_connected_components"
    monkeypatch.setenv("SIM_SPARK_LOCAL_CHECKPOINT", "1")
    local = _hash(QUERIES[key](spark, SF))
    monkeypatch.delenv("SIM_SPARK_LOCAL_CHECKPOINT")
    assert _hash(QUERIES[key](spark, SF)) == local
    res = run_parity(spark, key, SF)
    assert res.ok, f"{key}: {res.detail}\n" + "\n".join(res.diffs)


def test_normalize_warns_once_on_a_refused_conf_and_raises_on_bugs(monkeypatch):
    import types
    import warnings

    from pyspark.errors import PySparkException

    import sim_spark.session as session

    class Conf:
        def __init__(self, exc):
            self.exc = exc

        def set(self, key, value):
            raise self.exc

    monkeypatch.setattr(session, "_LOCKED_WARNED", set())
    locked = types.SimpleNamespace(conf=Conf(PySparkException(message="locked")))
    with warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("always")
        session.normalize(locked)
        session.normalize(locked)
    assert len(seen) == len(session._RUNTIME_CONFS)  # once per conf
    with pytest.raises(TypeError):
        session.normalize(types.SimpleNamespace(conf=Conf(TypeError("bug"))))
