"""The benchmark's workloads.

Each workload generates its inputs from the seed, builds what it needs
(``setup``), then repeats a fixed ``cycle`` of library calls. Every
call goes through ``Recorder.span`` and is named after the library
function it times. ``CYCLE`` lists the calls one cycle makes, so the
cycle time is composed from per-call medians. Results are checked
against the generator's ground truth, and a failed check counts as a
failed operation.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics

import numpy as np

import gen
from spans import store_usage

#: Near-duplicate recall floor for both dedup layers.
NEAR_DUP_RECALL_FLOOR = 0.95
#: Buckets of the benchmark's event stores (scaled to their size).
N_BUCKETS = 8


def _drain(df, *aggs):
    """Write ``df`` to the noop sink and return the observed aggregates."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    cols = [F.count(F.lit(1)).alias("n"), *aggs]
    df.observe(obs, *cols).write.format("noop").mode("overwrite").save()
    return obs.get


class Workload:
    name = ""
    CYCLE: dict[str, int] = {}

    def __init__(self, spark, rec, seed: int, tmp: str):
        self.spark, self.rec, self.seed, self.tmp = spark, rec, seed, tmp
        self.rng = np.random.default_rng([seed, 17])
        self.checks: dict[str, bool] = {}
        self.cycles = 0

    # -- helpers
    def check(self, name: str, ok: bool) -> None:
        """Record a check; the same name checked again keeps the worst."""
        self.checks[name] = self.checks.get(name, True) and bool(ok)

    def read(self, path: str):
        return self.spark.read.parquet(path)

    def new_store(self, name: str):
        from inception_eventstore_spark.operators.eventstore import EventStore
        from inception_eventstore_spark.sources.layout import EventStoreLayout

        layout = EventStoreLayout(os.path.join(self.tmp, "wh"), name, n_buckets=N_BUCKETS)
        layout.ensure_storage(self.spark)
        return EventStore(self.spark, layout, event_type_expr=gen.event_type_expr)

    def median(self, layer: str) -> float:
        return statistics.median(self.rec.samples(layer))

    def cycle_s(self) -> float:
        return sum(n * self.median(k) for k, n in self.CYCLE.items())

    def call_p50_ms(self) -> float:
        logs = [math.log(self.median(k) * 1000) for k in self.CYCLE]
        return math.exp(sum(logs) / len(logs))

    def rate(self, layer: str, key: str) -> float:
        """Σ ``key`` counts over Σ seconds of the layer's timed calls."""
        return self.rec.total(layer, key) / self.rec.total(layer, "s")

    # -- to implement
    def generate(self) -> None: ...
    def build(self) -> None: ...
    def warmup(self) -> None: ...
    def cycle(self) -> None: ...
    def verify(self) -> None: ...
    def stored_bytes_per_user_byte(self) -> float: ...
    def named(self) -> list[tuple[str, float, str, str]]: ...


def _events_written(layout) -> dict[str, tuple[int, int]]:
    return {
        "events": store_usage(layout.events_path),
        "index": store_usage(layout.index_path),
        "counter": store_usage(layout.counter_path),
    }


# ----------------------------------------------------------------------
class IngestRead(Workload):
    """A live store's life cycle, on a fresh store each cycle: time-ordered
    append waves, a redelivering stream, a tombstone batch, a closed-loop
    round of point reads while the store is fragmented, then
    optimize_buckets and compact."""

    name = "ingest_read"
    WAVES, STREAM_FILES = 2, 1
    READS_PER_KIND = 3
    PAGE, INDEX_PAGE = 10, 20
    READS = (
        "eventstore.load_aggregate",
        "eventstore.load_with_paging",
        "eventstore.load_event_raw",
        "index.get_paged",
        "counters.get_count",
    )
    CYCLE = {
        "eventstore.append_commits_df": WAVES,
        "ingest.stream_ingest": 1,
        "eventstore.delete_df": 1,
        **dict.fromkeys(READS, READS_PER_KIND),
        "eventstore.optimize_buckets": 1,
        "eventstore.compact": 1,
    }

    def generate(self) -> None:
        self.inp = self._write_inputs(gen.make_events(self.seed, 400, 2000, 120))

    def _write_inputs(self, ev: gen.EventData) -> dict:
        rng = np.random.default_rng([self.seed, 3])
        base = os.path.join(self.tmp, "in")
        by_time = np.argsort(ev.c_ts, kind="stable")
        n_wave = int(len(by_time) * 0.75)
        waves = np.array_split(by_time[:n_wave], self.WAVES)
        wave_paths = []
        for i, w in enumerate(waves):
            p = os.path.join(base, f"wave{i}.parquet")
            gen.write_table(ev.commits_table(w), p)
            wave_paths.append(p)
        in_wave = np.isin(ev.e_commit, by_time[:n_wave])
        stored, fresh = np.nonzero(in_wave)[0], np.nonzero(~in_wave)[0]
        fresh = fresh[np.argsort(ev.e_ts()[fresh], kind="stable")]
        src = os.path.join(base, "stream")
        src_bytes = 0
        for i, part in enumerate(np.array_split(fresh, self.STREAM_FILES)):
            dup = rng.choice(stored, max(1, len(part) // 10), replace=False)
            src_bytes += gen.write_table(
                ev.envelope_table(np.concatenate([part, dup])),
                os.path.join(src, f"part{i}.parquet"),
            )
        # tombstone whole commits (≈1% of events), so R3's private/public
        # split of the surviving commits is unchanged
        commit_live = np.ones(ev.n_commits, bool)
        for c in rng.permutation(ev.n_commits):
            if (~commit_live[ev.e_commit]).sum() >= ev.n_events // 100:
                break
            commit_live[c] = False
        live = commit_live[ev.e_commit]
        keys = os.path.join(base, "delete.parquet")
        gen.write_table(ev.key_table(np.nonzero(~live)[0]), keys)
        n = len(ev.aids)
        weights = 1.0 / np.arange(1, n + 1) ** gen.ZIPF_S
        return dict(
            ev=ev, waves=wave_paths,
            wave_events=[int(np.isin(ev.e_commit, w).sum()) for w in waves],
            src=src, src_bytes=src_bytes, fresh=len(fresh), keys=keys,
            commit_live=commit_live, live=live,
            e_pid=np.array([_pid(t) for t in ev.e_ts()]),
            pop_order=rng.permutation(n), pop_p=weights / weights.sum(),
        )

    def build(self) -> None:
        pass

    def warmup(self) -> None:
        """One full-size cycle (one read per kind): the first cycle in a
        JVM runs far slower than the next while code is compiled."""
        self._cycle("warm", timed=False, reads_per_kind=1)

    def cycle(self) -> None:
        self.cycles += 1
        shutil.rmtree(os.path.join(self.tmp, "wh", "bench_events"), ignore_errors=True)
        self._cycle("bench", timed=True, reads_per_kind=self.READS_PER_KIND)

    def _cycle(self, tenant: str, timed: bool, reads_per_kind: int) -> None:
        from inception_eventstore_spark.operators.counters import MessageCounter
        from inception_eventstore_spark.operators.index import IndexByEventTypeStore
        from inception_eventstore_spark.streaming.ingest import stream_ingest

        rec, inp = self.rec, self.inp
        store = self.store = self.new_store(f"{tenant}_events")
        layout = store.layout
        for path, n in zip(inp["waves"], inp["wave_events"]):
            before = _events_written(layout)
            with rec.span("eventstore.append_commits_df", timed) as sp:
                store.append_commits_df(self.read(path))
            sp["events"] = n
            if rec.tracing:
                after = _events_written(layout)
                for part in ("events", "index", "counter"):
                    sp[f"store.{part}_bytes_written"] = after[part][1] - before[part][1]
                sp["store.events_files_added"] = after["events"][0] - before["events"][0]
        ckpt = os.path.join(self.tmp, f"ckpt-{tenant}-{self.cycles}")
        if rec.tracing:
            stored_before = store.events_df().count()
        with rec.span("ingest.stream_ingest", timed) as sp:
            q = stream_ingest(self.spark, inp["src"], store, ckpt, max_files_per_trigger=1)
            try:
                q.processAllAvailable()
            finally:
                q.stop()
            sp["extra_groups"] = [str(q.runId)]
        sp["events"] = inp["fresh"]
        if rec.tracing:
            batches = [p for p in q.recentProgress if p.numInputRows]
            sp.update(
                batches=len(batches),
                batch_s=sum(p.durationMs.get("triggerExecution", 0) for p in batches) / 1000,
                input_rows=sum(p.numInputRows for p in batches),
                source_bytes=inp["src_bytes"],
            )
            sp["dup_rows_dropped"] = sp["input_rows"] - (store.events_df().count() - stored_before)
        with rec.span("eventstore.delete_df", timed):
            store.delete_df(self.read(inp["keys"]))
        self.index = IndexByEventTypeStore(self.spark, layout)
        self.counters = MessageCounter(self.spark, layout)
        self._read_round(timed, reads_per_kind)
        if rec.tracing:
            stats0 = store.stats()
        with rec.span("eventstore.optimize_buckets", timed) as sp:
            sp["buckets_rewritten"] = len(store.optimize_buckets(max_files_per_bucket=2))
        with rec.span("eventstore.compact", timed) as sp:
            store.compact()
            sp["buckets_rewritten"] = layout.n_buckets
        if rec.tracing:
            self.maintenance_stats = (stats0, store.stats())

    # -- point reads: one client, closed loop, zipf-popular aggregates
    def _pick_agg(self) -> int:
        inp = self.inp
        while True:
            a = int(inp["pop_order"][self.rng.choice(len(inp["pop_p"]), p=inp["pop_p"])])
            if inp["ev"].commits_of(a, inp["commit_live"]):
                return a

    def _read_round(self, timed: bool, reads_per_kind: int) -> None:
        inp, rec, store = self.inp, self.rec, self.store
        ev = inp["ev"]
        ops = [op for op in self.READS for _ in range(reads_per_kind)]
        self.rng.shuffle(ops)
        for op in ops:
            agg = self._pick_agg()
            aid = ev.aids[agg]
            want = ev.commits_of(agg, inp["commit_live"])
            if op == "eventstore.load_aggregate":
                with rec.span(op, timed) as sp:
                    rows = store.load_aggregate(aid).collect()
                sp["rows_returned"] = len(rows)
                self.check("read.r3_matches_generator", _commits(rows) == want)
            elif op == "eventstore.load_with_paging":
                with rec.span(op, timed) as sp:
                    rows, _ = store.load_with_paging(aid, self.PAGE)
                sp["rows_returned"] = len(rows)
                self.check("read.r4_first_page_matches",
                           [(r["rev"], r["pos"], bytes(r["data"])) for r in rows]
                           == _flatten(want)[: self.PAGE])
            elif op == "eventstore.load_event_raw":
                rev, ts, priv, pub = want[int(self.rng.integers(len(want)))]
                k = int(self.rng.integers(len(priv) + len(pub)))
                pos = k if k < len(priv) else len(priv) - 1 + gen.PUBLIC_EVENTS_OFFSET + k - len(priv)
                with rec.span(op, timed) as sp:
                    row = store.load_event_raw(aid, rev, pos)
                sp["rows_returned"] = int(row is not None)
                self.check("read.r6_returns_planted_payload",
                           row is not None and bytes(row["data"]) == (priv + pub)[k]
                           and row["ts"] == ts)
            elif op == "index.get_paged":
                e = int(self.rng.integers(ev.n_events))
                et, pid = int(ev.e_et[e]), int(inp["e_pid"][e])
                with rec.span(op, timed) as sp:
                    rows, _ = self.index.get_paged(f"et-{et}", pid, self.INDEX_PAGE)
                sp["rows_returned"] = len(rows)
                self.check("read.x2_page_matches_generator",
                           [(r["ts"], bytes(r["aid"]), r["rev"], r["pos"]) for r in rows]
                           == self._index_page(et, pid))
            else:
                et = int(self.rng.integers(gen.N_TYPES))
                with rec.span(op, timed) as sp:
                    n = self.counters.get_count(f"et-{et}")
                sp["rows_returned"] = 1
                self.check("read.c3_matches_generator", n == int((ev.e_et == et).sum()))

    def _index_page(self, et: int, pid: int) -> list[tuple]:
        ev = self.inp["ev"]
        sel = np.nonzero((ev.e_et == et) & (self.inp["e_pid"] == pid))[0]
        keys = sorted(
            (int(ev.c_ts[ev.e_commit[e]]), ev.e_aid(e), int(ev.c_rev[ev.e_commit[e]]),
             int(ev.e_pos[e])) for e in sel
        )
        return keys[: self.INDEX_PAGE]

    def verify(self) -> None:
        """The cross-table equalities on the last cycle's store, and R4
        pages that concatenate to R3."""
        from pyspark.sql import functions as F

        from inception_eventstore_spark.operators.eventstore import PlayerOptions

        inp, store = self.inp, self.store
        ev, live = inp["ev"], inp["live"]
        n_all = ev.n_events
        events = store.events_df()
        self.check("ingest.live_events_eq_expected_minus_deleted",
                   events.count() == int(live.sum()))
        self.check("ingest.index_rows_eq_appended", self.index.index_df().count() == n_all)
        cv = {r["msgid"]: int(r["cv"]) for r in self.counters.counters_df().collect()}
        self.check("ingest.counter_sum_eq_appended", sum(cv.values()) == n_all)
        want_all, want_live, dead = ev.type_counts(), ev.type_counts(live), ev.type_counts(~live)
        idx_t = {r["et"]: r["count"]
                 for r in self.index.index_df().groupBy("et").count().collect()}
        ev_t = {
            r["et"]: r["count"]
            for r in events.groupBy(gen.event_type_expr(F.col("data")).alias("et")).count().collect()
        }
        mismatch = sum(
            1 for t in want_all
            if not (idx_t.get(t) == cv.get(t) == want_all[t]
                    and ev_t.get(t, 0) + dead.get(t, 0) == idx_t.get(t))
        )
        self.check("ingest.per_type_mismatch_zero", mismatch == 0 and len(idx_t) == len(want_all))
        self.check("ingest.index_min_ts_eq_generated", self.index.min_ts() == int(ev.c_ts.min()))
        et = sorted(want_live)[self.seed % len(want_live)]
        n_r11 = store.replay_by_event_type(self.index, PlayerOptions(event_type_id=et)).count()
        self.check("ingest.r11_rows_eq_live_events_of_type", n_r11 == want_live[et])
        self.check("ingest.no_tombstones_after_compact", store.stats()["tombstone_files"] == 0)
        for _ in range(3):
            aid = ev.aids[self._pick_agg()]
            pages, token = [], None
            while token is None or token.has_more:
                rows, token = store.load_with_paging(aid, 3, token)
                pages += [(r["rev"], r["pos"], bytes(r["data"])) for r in rows]
            r3 = store.load_aggregate(aid).collect()
            self.check("read.r4_pages_concatenate_to_r3", pages == _flatten(_commits(r3)))

    def stored_bytes_per_user_byte(self) -> float:
        used = _events_written(self.store.layout)
        return sum(b for _, b in used.values()) / self.inp["ev"].payload_bytes

    def named(self):
        maint = sum(self.median(k) for k in (
            "eventstore.delete_df", "eventstore.optimize_buckets", "eventstore.compact"))
        out = [
            ("ingest_events_per_s", self.rate("eventstore.append_commits_df", "events"),
             "1/s", "higher"),
            ("redelivery_events_per_s", self.rate("ingest.stream_ingest", "events"),
             "1/s", "higher"),
            ("maintenance_s", maint, "s", "lower"),
            ("stored_bytes_per_user_byte", self.stored_bytes_per_user_byte(), "ratio", "lower"),
        ]
        out += [
            (f"{short}_p50_ms", self.median(k) * 1000, "ms", "lower")
            for short, k in zip(
                ("load_aggregate", "load_page", "load_event", "index_page", "counter_get"),
                self.READS)
        ]
        pooled = [x for k in self.READS for x in self.rec.samples(k)]
        out.append(("point_read_p50_ms", statistics.median(pooled) * 1000, "ms", "lower"))
        out.append(("point_reads", len(pooled), "count", "higher"))
        return out


def _pid(ticks: int) -> int:
    from inception_eventstore_spark.functions.partitions import pid_from_filetime

    return pid_from_filetime(int(ticks))


def _commits(rows) -> list[tuple]:
    return [
        (r["rev"], r["ts"], [bytes(x) for x in r["events"]],
         [bytes(x) for x in r["public_events"]])
        for r in rows
    ]


def _flatten(commits: list[tuple]) -> list[tuple]:
    out = []
    for rev, _, priv, pub in commits:
        out += [(rev, i, d) for i, d in enumerate(priv)]
        base = len(priv) - 1 + gen.PUBLIC_EVENTS_OFFSET
        out += [(rev, base + i, d) for i, d in enumerate(pub)]
    return out


# ----------------------------------------------------------------------
class ReplayDedup(Workload):
    """Scan- and shuffle-bound work: R9/R10/X3/R11 over a compacted store,
    then dedup-at-ingest batches and a near-duplicate sweep of the corpus."""

    name = "replay_dedup"
    WAVES = 1
    REPLAY_ROUNDS = 2
    DEDUP_BATCHES = 2  # batch 0 builds the index in setup
    CYCLE = {
        "eventstore.replay": REPLAY_ROUNDS,
        "eventstore.replay_grouped": REPLAY_ROUNDS,
        "index.records": REPLAY_ROUNDS,
        "eventstore.replay_by_event_type": REPLAY_ROUNDS,
        "text_index.append_unique": DEDUP_BATCHES - 1,
        "dedup.minhash_lsh_pairs": 1,
    }

    def generate(self) -> None:
        ev = self.ev = gen.make_events(self.seed, 1500, 8000, 120)
        by_time = np.argsort(ev.c_ts, kind="stable")
        self.waves = []
        for i, w in enumerate(np.array_split(by_time, self.WAVES)):
            p = os.path.join(self.tmp, "in", f"wave{i}.parquet")
            gen.write_table(ev.commits_table(w), p)
            self.waves.append(p)
        dead = self.rng.choice(ev.n_commits, max(1, ev.n_commits // 100), replace=False)
        self.commit_live = np.ones(ev.n_commits, bool)
        self.commit_live[dead] = False
        self.live = self.commit_live[ev.e_commit]
        self.keys = os.path.join(self.tmp, "in", "delete.parquet")
        gen.write_table(ev.key_table(np.nonzero(~self.live)[0]), self.keys)
        corpus = self.corpus = gen.make_corpus(self.seed, self.DEDUP_BATCHES, 600, 50)
        base = os.path.join(self.tmp, "corpus")
        self.batches = [os.path.join(base, f"batch{b}.parquet")
                        for b in range(self.DEDUP_BATCHES)]
        for b, path in enumerate(self.batches):
            gen.write_table(corpus.table(b), path)
        self.all_docs = os.path.join(base, "all.parquet")
        gen.write_table(corpus.table(), self.all_docs)
        self.golden, self.work = os.path.join(base, "index"), os.path.join(base, "work")

    def build(self) -> None:
        from inception_eventstore_spark.operators.index import IndexByEventTypeStore
        from inception_eventstore_spark.operators.text_index import MinHashTextIndex

        self.store = self.new_store("bench_replay")
        for p in self.waves:
            self.store.append_commits_df(self.read(p))
        self.store.delete_df(self.read(self.keys))
        self.store.compact()
        self.index = IndexByEventTypeStore(self.spark, self.store.layout)
        with self.rec.span("text_index.build", timed=False) as sp:
            MinHashTextIndex.build(self.read(self.batches[0]), self.golden)
        sp["docs_kept"] = len(self.corpus.batches[0])

    def warmup(self) -> None:
        self._replay_round(timed=False)
        self._dedup_round(timed=False)

    def cycle(self) -> None:
        self.cycles += 1
        for _ in range(self.REPLAY_ROUNDS):
            self._replay_round(timed=True)
        self._dedup_round(timed=True)

    def _window(self) -> tuple[int, int]:
        start = int(self.rng.integers(0, gen.SPAN_DAYS - 10))
        lo = gen.T0_TICKS + start * gen.DAY_TICKS
        return lo, lo + 10 * gen.DAY_TICKS - 1

    def _replay_round(self, timed: bool) -> None:
        from pyspark.sql import functions as F

        from inception_eventstore_spark.operators.eventstore import PlayerOptions

        ev, rec, store = self.ev, self.rec, self.store
        lo, hi = self._window()
        with rec.span("eventstore.replay", timed) as sp:
            got = _drain(store.replay(PlayerOptions(after=lo, before=hi)))
        sp["rows_returned"] = got["n"]
        self.check("replay.r9_window_count", got["n"] == ev.window_count(lo, hi, self.live))
        with rec.span("eventstore.replay_grouped", timed) as sp:
            got = _drain(store.replay_grouped(), F.sum(
                F.size("events") + F.size("public_events")).alias("events"))
        sp["rows_returned"] = got["n"]
        self.check("replay.r10_commit_count", got["n"] == int(self.commit_live.sum()))
        self.check("replay.r10_event_count", got["events"] == int(self.live.sum()))
        et = int(self.rng.integers(gen.N_TYPES))
        typed = ev.e_et == et
        with rec.span("index.records", timed) as sp:
            got = _drain(self.index.records(f"et-{et}", lo, hi))
        sp["rows_returned"] = got["n"]
        self.check("replay.x3_window_count", got["n"] == ev.window_count(lo, hi, typed))
        with rec.span("eventstore.replay_by_event_type", timed) as sp:
            got = _drain(store.replay_by_event_type(
                self.index, PlayerOptions(after=lo, before=hi, event_type_id=f"et-{et}")))
        sp["rows_returned"] = got["n"]
        self.check("replay.r11_count", got["n"] == ev.window_count(lo, hi, typed & self.live))

    def _dedup_round(self, timed: bool) -> None:
        """Fresh copy of the built index; later batches through
        append_unique; then the near-duplicate sweep of the whole corpus."""
        from inception_eventstore_spark.operators.dedup import minhash_lsh_pairs
        from inception_eventstore_spark.operators.text_index import MinHashTextIndex

        rec, corpus = self.rec, self.corpus
        shutil.rmtree(self.work, ignore_errors=True)
        shutil.copytree(self.golden, self.work)
        tix = MinHashTextIndex.load(self.spark, self.work)
        exact = {c for _, c in corpus.exact}
        near = {c for _, c in corpus.near}
        near_dropped = 0
        for b in range(1, self.DEDUP_BATCHES):
            docs = corpus.batches[b]
            with rec.span("text_index.append_unique", timed) as sp:
                kept = tix.append_unique(self.read(self.batches[b]))
            kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
            dropped = {d for d, _ in docs} - kept_ids
            sp.update(docs_in=len(docs), docs_kept=len(kept_ids), docs_dropped=len(dropped))
            self.check("dedup.exact_duplicates_dropped",
                       all(d in dropped for d, _ in docs if d in exact))
            self.check("dedup.only_planted_copies_dropped", dropped <= exact | near)
            near_dropped += len(dropped & near)
        self.check("dedup.append_unique_near_recall_at_floor",
                   near_dropped >= NEAR_DUP_RECALL_FLOOR * len(near))
        with rec.span("dedup.minhash_lsh_pairs", timed) as sp:
            pairs = minhash_lsh_pairs(self.read(self.all_docs)).collect()
        sp.update(pairs_verified=len(pairs), docs_in=corpus.n_docs)
        found = {(r["id_a"], r["id_b"]) for r in pairs}
        planted = {tuple(sorted(p)) for p in corpus.exact + corpus.near}
        self.check("dedup.lsh_pairs_all_planted", found <= planted)
        self.check("dedup.lsh_exact_pairs_found",
                   all(tuple(sorted(p)) in found for p in corpus.exact))
        self.check("dedup.lsh_near_recall_at_floor",
                   len(found & {tuple(sorted(p)) for p in corpus.near})
                   >= NEAR_DUP_RECALL_FLOOR * len(corpus.near))
        self.text_index_bytes = store_usage(self.work)[1]

    def verify(self) -> None:
        pass  # every call is checked in the round

    def stored_bytes_per_user_byte(self) -> float:
        used = _events_written(self.store.layout)
        stored = sum(b for _, b in used.values()) + self.text_index_bytes
        return stored / (self.ev.payload_bytes + self.corpus.text_bytes)

    def named(self):
        return [
            ("replay_window_events_per_s", self.rate("eventstore.replay", "rows_returned"),
             "1/s", "higher"),
            ("replay_grouped_commits_per_s",
             self.rate("eventstore.replay_grouped", "rows_returned"), "1/s", "higher"),
            ("index_records_rows_per_s", self.rate("index.records", "rows_returned"),
             "1/s", "higher"),
            ("replay_by_type_events_per_s",
             self.rate("eventstore.replay_by_event_type", "rows_returned"), "1/s", "higher"),
            ("dedup_ingest_docs_per_s", self.rate("text_index.append_unique", "docs_in"),
             "1/s", "higher"),
            ("near_dup_scan_docs_per_s", self.rate("dedup.minhash_lsh_pairs", "docs_in"),
             "1/s", "higher"),
        ]


WORKLOADS = {w.name: w for w in (IngestRead, ReplayDedup)}
