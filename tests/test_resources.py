"""The session resource registry and memo (``resources.py``): memoized
state follows a dataset rewritten in place, and running an entry of each
resource family, then ``release()``, leaves nothing behind."""

from __future__ import annotations

import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

from alibaba_cppfeaturestore_spark import resources


def _entries(kind: str, path: str) -> list[tuple]:
    return [k for k in resources._MEMO if k[3] == kind and any(path in p for p in k[2])]


def test_memos_serve_regenerated_data(spark, tmp_path):
    # Every memo (table plans, key uniqueness, stream schema) serves the
    # NEW data after the files are rewritten in place, replaces its entry
    # instead of accumulating one per generation, and keeps sibling
    # sessions apart.
    from alibaba_cppfeaturestore_spark.plans import catalog as C
    from alibaba_cppfeaturestore_spark.plans import views
    from alibaba_cppfeaturestore_spark.streaming.pipeline import run_bounded_to_memory

    d = tmp_path / "sf"
    d.mkdir()
    sf = str(d)

    # table plans: a hit returns the memoized plan; each rewrite re-reads
    reg_path = str(d / "region.parquet")

    def write_region(n: int) -> None:
        pq.write_table(
            pa.table({"r_regionkey": list(range(n)), "r_name": [f"r{i}" for i in range(n)]}),
            reg_path,
        )

    write_region(2)
    df1 = views.load_table(spark, sf, "region")
    assert views.load_table(spark, sf, "region") is df1
    for n in (3, 4, 5):
        write_region(n)
        dfn = views.load_table(spark, sf, "region")
        assert dfn is not df1 and dfn.count() == n
        assert len(_entries("table", reg_path)) == 1  # replaced, not accumulated
    sibling = spark.newSession()
    df_sib = views.load_table(sibling, sf, "region")
    assert df_sib.sparkSession is sibling  # bound to the asking session
    assert len(_entries("table", reg_path)) == 2  # one entry per session

    # key uniqueness: unique ids, then duplicated ids at the same path
    doc_path = str(d / "documents.parquet")
    for ids, unique in (([1, 2, 3], True), ([1, 1, 2], False)):
        pq.write_table(pa.table({"doc_id": ids}), doc_path)
        df = spark.read.parquet(doc_path)
        assert C._key_is_unique(df, sf, "documents", "doc_id") is unique
    assert len(_entries("key_unique", doc_path)) == 1

    # stream schema: the rewrite adds a column and rows; the stream reads
    # events.parquet only, though the directory holds other tables
    ev_path = str(d / "events.parquet")
    for n, extra in ((5, False), (8, True)):
        cols = {
            "event_id": list(range(n)),
            "ts": pa.array([1_700_000_000_000_000 + i for i in range(n)], pa.timestamp("us")),
            "event_type": ["view"] * n,
        }
        if extra:
            cols["props"] = ["{}"] * n
        pq.write_table(pa.table(cols), ev_path)
        stream = C._stream_events(spark, sf)
        assert ("props" in stream.columns) is extra
        assert run_bounded_to_memory(stream.select("event_id"), output_mode="append").count() == n
    assert len(_entries("schema", ev_path)) == 1

    # cap backstop: overflow clears rather than growing without bound
    for i in range(resources.MEMO_CAP + 10):
        resources.memo(spark, [ev_path], ("cap_probe", i), lambda: i)
    assert len(resources._MEMO) <= resources.MEMO_CAP


# the tempdir prefixes of every catalog entry that writes a table
_PREFIXES = (
    "online_store_", "asof_enrich_", "ignore_write_", "chk_restart_", "txlog_",
    "txmerge_", "txlog_ckpt_", "jdbc_rt_", "part_write_", "schema_evo_", "wap_",
)


def test_entries_leave_nothing_behind(spark, sf_dir, tmp_path, monkeypatch):
    # One entry of each resource family (persisting dedup, lazily and
    # eagerly checkpointed graph rounds, a range-checkpointed id
    # assignment, a stream writing a store, a transaction log, a Derby
    # database), then release(): no cached or checkpointed blocks, no
    # tempdirs, no live streams, every memo within its cap. Tempdirs go
    # to a private root so concurrent processes cannot blur the check.
    from alibaba_cppfeaturestore_spark.plans.catalog import QUERIES

    root = tmp_path / "tmp"
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(root))
    resources.release(blocking=True)
    spark.catalog.clearCache()

    def leftovers() -> list[str]:
        return sorted(p for p in os.listdir(root) if p.startswith(_PREFIXES))

    def run(name: str) -> list[tuple]:
        return sorted(map(tuple, QUERIES[name].spark(spark, sf_dir).collect()), key=repr)

    families = [
        "dedup_minhash_lsh",
        "graph_pagerank_trade_network",
        "graph_bfs_trade_hops",
        "ids_stable_assign",
        "stream_online_upsert",
        "txlog_time_travel",
        "jdbc_roundtrip_derby",
    ]
    first = {name: run(name) for name in families}
    assert leftovers()  # the tempdir entries did write under the root

    def assert_clean() -> None:
        resources.release(blocking=True)
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        assert len(infos) == 0, [str(i) for i in infos]
        assert leftovers() == []
        assert spark.streams.active == []
        assert len(resources._MEMO) <= resources.MEMO_CAP

    assert_clean()
    # a released tempdir (the Derby database dir included) never breaks
    # a later run of the same entry in the same session
    for name in ("stream_online_upsert", "txlog_time_travel", "jdbc_roundtrip_derby"):
        for _ in range(2):
            assert run(name) == first[name], name
    assert_clean()
