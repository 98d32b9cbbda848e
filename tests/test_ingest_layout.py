"""Physical layout the ingest and maintenance paths write.

- every index file holds its rows in ascending ts order (the planned
  write's own (et, pid) sort must not replace the ts sort);
- one append writes exactly one index file per (et, pid), also when the
  write is spread over all cores;
- ``optimize_buckets`` rewrites the fragmented buckets in one job into
  at most ceil(bytes / target) files each, sorted by (id, rev, pos),
  one file per aggregate, rows unchanged, cold buckets untouched.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from collections import defaultdict

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from inception_eventstore_spark.functions.filetime import datetime_to_filetime
from inception_eventstore_spark.functions.hashing import bucket_of
from inception_eventstore_spark.operators.eventstore import (
    AggregateCommit,
    EventStore,
)
from inception_eventstore_spark.operators.index import IndexByEventTypeStore
from inception_eventstore_spark.sources import layout as L

T0 = datetime_to_filetime(dt.datetime(2024, 3, 14, tzinfo=dt.timezone.utc))
HOUR = 36_000_000_000
TYPES = ("type-a", "type-b", "type-c")


def _et_expr(data_col):
    return F.get_json_object(data_col.cast("string"), "$.et")


def _data_files(root: str) -> list[str]:
    """Local parquet data files under ``root`` (hidden entries skipped)."""
    out = []
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        out += [
            os.path.join(d, f) for f in files
            if not f.startswith((".", "_")) and f.endswith(".parquet")
        ]
    return sorted(out)


def _files_by_dir(root: str) -> dict[str, list[str]]:
    by_dir = defaultdict(list)
    for f in _data_files(root):
        by_dir[os.path.relpath(os.path.dirname(f), root)].append(f)
    return by_dir


def _commits(n_aggs: int, seed: int) -> list[AggregateCommit]:
    """One commit per aggregate, timestamps over 4 days in shuffled
    order, event types round-robin."""
    rng = random.Random(seed)
    ts = [T0 + i * (96 * HOUR // n_aggs) for i in range(n_aggs)]
    rng.shuffle(ts)
    return [
        AggregateCommit(
            f"agg-{seed}-{i:04d}".encode(), 1, ts[i],
            events=[json.dumps({"et": TYPES[i % 3], "n": i}).encode()],
        )
        for i in range(n_aggs)
    ]


@pytest.fixture()
def lay(warehouse):
    lay = L.EventStoreLayout(warehouse=warehouse, keyspace="layout_es",
                             n_buckets=4)
    lay.ensure_storage()
    return lay


class TestIndexFiles:
    def test_append_commits_writes_ts_ordered_files(self, spark, lay):
        store = EventStore(spark, lay, event_type_expr=_et_expr)
        store.append_commits(_commits(240, seed=1))
        files = _data_files(lay.index_path)
        assert len(files) == 3 * 4  # 3 types over 4 calendar days
        for f in files:
            ts = pq.read_table(f, columns=["ts"]).column("ts").to_pylist()
            assert len(ts) > 1 and ts == sorted(ts), f

    def test_index_store_append_writes_ts_ordered_files(self, spark, lay):
        commits = _commits(120, seed=2)
        records = spark.createDataFrame(
            [
                (TYPES[i % 3], c.aggregate_root_id, c.revision, 0,
                 c.timestamp)
                for i, c in enumerate(commits)
            ],
            "et string, aid binary, rev int, pos int, ts long",
        )
        IndexByEventTypeStore(spark, lay).append(records)
        files = _data_files(lay.index_path)
        assert files
        for f in files:
            ts = pq.read_table(f, columns=["ts"]).column("ts").to_pylist()
            assert ts == sorted(ts), f

    def test_one_file_per_et_pid_per_append(self, spark, lay):
        assert spark.sparkContext.defaultParallelism == 4
        store = EventStore(spark, lay, event_type_expr=_et_expr)
        store.append_commits(_commits(240, seed=3))
        by_dir = _files_by_dir(lay.index_path)
        assert len(by_dir) == 12
        assert all(len(fs) == 1 for fs in by_dir.values()), by_dir
        store.append_commits(_commits(240, seed=4))
        by_dir = _files_by_dir(lay.index_path)
        assert all(len(fs) == 2 for fs in by_dir.values()), by_dir


class TestOptimizeBucketsOneJob:
    def _fragmented(self, spark, lay):
        """Bucket 0 gets one file per append (6), the others one."""
        store = EventStore(spark, lay)
        aids = [f"opt-{i:04d}".encode() for i in range(200)]
        hot = [a for a in aids if bucket_of(a, lay.n_buckets) == 0]
        rng = random.Random(7)
        store.append_commits(
            [AggregateCommit(a, 1, T0 + i, events=[rng.randbytes(64)])
             for i, a in enumerate(aids)],
            maintain_index=False,
        )
        for rev in range(2, 7):
            store.append_commits(
                [AggregateCommit(a, rev, T0 + rev * HOUR + i,
                                 events=[rng.randbytes(256),
                                         rng.randbytes(256)])
                 for i, a in enumerate(hot)],
                maintain_index=False,
            )
        return store, hot

    @staticmethod
    def _rows(df):
        return sorted(
            (bytes(r["id"]), r["rev"], r["pos"], r["ts"], bytes(r["data"]))
            for r in df.collect()
        )

    def test_split_sort_and_untouched_cold_buckets(self, spark, lay):
        store, hot = self._fragmented(spark, lay)
        store.delete(hot[0], 3, 1)
        by_dir = _files_by_dir(lay.events_path)
        assert len(by_dir["bucket=0"]) == 6
        assert all(len(by_dir[f"bucket={b}"]) == 1 for b in (1, 2, 3))
        hot_bytes = sum(os.path.getsize(f) for f in by_dir["bucket=0"])
        target = hot_bytes // 3
        max_files = -(-hot_bytes // target)
        raw_before = self._rows(lay.read_events(spark).drop("bucket"))
        live_before = self._rows(store.events_df())

        assert store.optimize_buckets(
            max_files_per_bucket=2, target_file_bytes=target
        ) == [0]

        after = _files_by_dir(lay.events_path)
        for b in (1, 2, 3):  # cold buckets: same files, never rewritten
            assert after[f"bucket={b}"] == by_dir[f"bucket={b}"]
        hot_files = after["bucket=0"]
        assert 1 <= len(hot_files) <= max_files
        owner = {}
        for f in hot_files:
            t = pq.read_table(f)
            assert t.column_names == ["id", "rev", "pos", "ts", "data"]
            keys = list(zip(*(t.column(c).to_pylist()
                              for c in ("id", "rev", "pos"))))
            assert keys == sorted(keys), f
            for aid in {k[0] for k in keys}:
                assert owner.setdefault(aid, f) == f  # one file per aggregate
        assert set(owner) == set(hot)
        # rows copied verbatim; the tombstone still filters at read time
        assert self._rows(lay.read_events(spark).drop("bucket")) == raw_before
        assert self._rows(store.events_df()) == live_before
        assert (hot[0], 3, 1) in {r[:3] for r in raw_before}
        assert (hot[0], 3, 1) not in {r[:3] for r in live_before}
        assert not os.path.exists(lay.events_path + ".optimize")

    def test_nothing_over_threshold_writes_nothing(self, spark, lay):
        store, _ = self._fragmented(spark, lay)
        before = _data_files(lay.events_path)
        assert store.optimize_buckets(max_files_per_bucket=6) == []
        assert _data_files(lay.events_path) == before


class TestListing:
    def test_relative_paths_of_an_unqualified_dir(self, spark, tmp_path):
        """Listings return qualified ``file:/`` paths; the hidden-name
        rule and the relative keys must apply below the directory even
        when it is given without a scheme (a name like ``x_evts`` once
        read as the hidden ``_evts``)."""
        from inception_eventstore_spark.sources import fsutil

        root = tmp_path / "x_evts"
        (root / "bucket=1").mkdir(parents=True)
        (root / "bucket=1" / "part-0.parquet").write_bytes(b"abc")
        (root / "_snap").mkdir()
        (root / "_snap" / "part-9.parquet").write_bytes(b"hidden")
        assert fsutil.has_data(spark, str(root))
        assert fsutil.data_file_sizes(spark, str(root)) == {
            "bucket=1/part-0.parquet": 3
        }
        assert fsutil.dir_data_bytes(spark, str(root)) == 3
