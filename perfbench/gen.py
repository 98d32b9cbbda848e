"""Seeded input generators with ground truth.

Everything here is plain NumPy/PyArrow: the generators write Parquet
files and return the expected answers, and the library only ever sees
those files (read back as DataFrames). The same seed gives the same
files and the same ground truth.

Event-store data
    Aggregates get a zipf-skewed number of commits. Each commit carries
    1-3 private events and 0-1 public events, so public events land at
    ``pos = n_private - 1 + 5`` (the reference's public-events offset).
    Every payload starts with its event-type digit ``0``-``7``, which
    ``event_type_expr`` turns into ``et-<digit>`` JVM-side. Commit
    timestamps (FileTime ticks) span 30 days, so index scans and
    type-driven replays cross day partitions.

Text corpus
    Random-token documents plus planted exact duplicates and planted
    one-token-edit near-duplicates, each planted copy in a later batch
    than its original.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: 2024-03-01T00:00:00Z in FileTime ticks (100 ns since 1601-01-01).
T0_TICKS = 133_537_248_000_000_000
DAY_TICKS = 864_000_000_000
SPAN_DAYS = 30
N_TYPES = 8
PUBLIC_EVENTS_OFFSET = 5
#: skew of commits per aggregate (and of aggregate popularity in reads)
ZIPF_S = 1.1
#: corpus: vocabulary size, and the share of each later batch that is
#: exact copies (the same share again is near-duplicates)
VOCAB = 20_000
PLANTED_SHARE = 0.05

_LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789", dtype=np.uint8)

COMMIT_SCHEMA = pa.schema([
    ("id", pa.binary()),
    ("rev", pa.int32()),
    ("ts", pa.int64()),
    ("events", pa.list_(pa.binary())),
    ("public_events", pa.list_(pa.binary())),
])
ENVELOPE_SCHEMA = pa.schema([
    ("id", pa.binary()),
    ("rev", pa.int32()),
    ("pos", pa.int32()),
    ("ts", pa.int64()),
    ("data", pa.binary()),
])
KEY_SCHEMA = pa.schema([("id", pa.binary()), ("rev", pa.int32()), ("pos", pa.int32())])


def event_type_expr(data):
    """Payload → event type, JVM-side: ``et-`` + the payload's first byte."""
    from pyspark.sql import functions as F

    return F.concat(F.lit("et-"), F.substring(data.cast("string"), 1, 1))


def _rng(seed: int, tag: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(map(ord, tag)) * 7919 + len(tag)])


@dataclass
class EventData:
    """Columnar commits and their envelope rows, plus ground truth.

    Commit arrays are indexed by commit number ``c``; event arrays by
    event number ``e``, grouped by commit (privates then publics)."""

    aids: list[bytes]
    c_agg: np.ndarray
    c_rev: np.ndarray
    c_ts: np.ndarray
    c_npriv: np.ndarray
    c_npub: np.ndarray
    c_first: np.ndarray  # first event number of each commit
    e_commit: np.ndarray
    e_pos: np.ndarray
    e_et: np.ndarray
    e_data: list[bytes]
    payload_bytes: int = field(init=False)

    def __post_init__(self):
        self.payload_bytes = int(sum(map(len, self.e_data)))

    @property
    def n_events(self) -> int:
        return len(self.e_data)

    @property
    def n_commits(self) -> int:
        return len(self.c_rev)

    def e_ts(self) -> np.ndarray:
        return self.c_ts[self.e_commit]

    def e_aid(self, e: int) -> bytes:
        return self.aids[self.c_agg[self.e_commit[e]]]

    def type_counts(self, mask: np.ndarray | None = None) -> dict[str, int]:
        et = self.e_et if mask is None else self.e_et[mask]
        counts = np.bincount(et, minlength=N_TYPES)
        return {f"et-{t}": int(n) for t, n in enumerate(counts) if n}

    def window_count(self, lo: int, hi: int, mask: np.ndarray | None = None) -> int:
        ts = self.e_ts()
        hit = (ts >= lo) & (ts <= hi)
        if mask is not None:
            hit &= mask
        return int(hit.sum())

    def commits_of(self, agg: int, commit_mask: np.ndarray | None = None) -> list[tuple]:
        """Expected R3 result of one aggregate: (rev, ts, events, public_events)
        in rev order."""
        sel = np.nonzero(self.c_agg == agg)[0]
        if commit_mask is not None:
            sel = sel[commit_mask[sel]]
        out = []
        for c in sel[np.argsort(self.c_rev[sel])]:
            f, n, p = self.c_first[c], self.c_npriv[c], self.c_npub[c]
            out.append((
                int(self.c_rev[c]), int(self.c_ts[c]),
                self.e_data[f:f + n], self.e_data[f + n:f + n + p],
            ))
        return out

    # -- Parquet writers (the only way data reaches the library)
    def commits_table(self, commits: np.ndarray) -> pa.Table:
        commits = np.sort(commits)
        ids, revs, tss, privs, pubs = [], [], [], [], []
        for c in commits:
            f, n, p = self.c_first[c], self.c_npriv[c], self.c_npub[c]
            ids.append(self.aids[self.c_agg[c]])
            revs.append(int(self.c_rev[c]))
            tss.append(int(self.c_ts[c]))
            privs.append(self.e_data[f:f + n])
            pubs.append(self.e_data[f + n:f + n + p])
        return pa.Table.from_arrays(
            [pa.array(ids, pa.binary()), pa.array(revs, pa.int32()),
             pa.array(tss, pa.int64()), pa.array(privs, pa.list_(pa.binary())),
             pa.array(pubs, pa.list_(pa.binary()))],
            schema=COMMIT_SCHEMA,
        )

    def envelope_table(self, events: np.ndarray) -> pa.Table:
        return pa.Table.from_arrays(
            [pa.array([self.e_aid(e) for e in events], pa.binary()),
             pa.array(self.c_rev[self.e_commit[events]], pa.int32()),
             pa.array(self.e_pos[events], pa.int32()),
             pa.array(self.c_ts[self.e_commit[events]], pa.int64()),
             pa.array([self.e_data[e] for e in events], pa.binary())],
            schema=ENVELOPE_SCHEMA,
        )

    def key_table(self, events: np.ndarray) -> pa.Table:
        return pa.Table.from_arrays(
            [pa.array([self.e_aid(e) for e in events], pa.binary()),
             pa.array(self.c_rev[self.e_commit[events]], pa.int32()),
             pa.array(self.e_pos[events], pa.int32())],
            schema=KEY_SCHEMA,
        )


def make_events(seed: int, n_aggs: int, n_commits: int, payload_len: int) -> EventData:
    """``n_commits`` commits over ``n_aggs`` aggregates (each ≥ 1 commit,
    the rest zipf-distributed by aggregate rank)."""
    rng = _rng(seed, "events")
    weights = 1.0 / np.arange(1, n_aggs + 1) ** ZIPF_S
    per_agg = 1 + rng.multinomial(n_commits - n_aggs, weights / weights.sum())
    rng.shuffle(per_agg)
    c_agg = np.repeat(np.arange(n_aggs), per_agg)
    # revs 1..k per aggregate, timestamps ascending with rev
    starts = np.concatenate([[0], np.cumsum(per_agg)[:-1]])
    c_rev = (np.arange(n_commits) - np.repeat(starts, per_agg) + 1).astype(np.int32)
    raw_ts = T0_TICKS + rng.integers(0, SPAN_DAYS * DAY_TICKS, n_commits)
    order = np.lexsort((raw_ts, c_agg))
    c_ts = raw_ts[order].astype(np.int64)
    c_npriv = rng.integers(1, 4, n_commits)
    c_npub = rng.integers(0, 2, n_commits)
    per_commit = c_npriv + c_npub
    c_first = np.concatenate([[0], np.cumsum(per_commit)[:-1]])
    n_events = int(per_commit.sum())
    e_commit = np.repeat(np.arange(n_commits), per_commit)
    k = np.arange(n_events) - c_first[e_commit]
    npriv_e = c_npriv[e_commit]
    e_pos = np.where(k < npriv_e, k, npriv_e - 1 + PUBLIC_EVENTS_OFFSET + (k - npriv_e))
    e_pos = e_pos.astype(np.int32)
    e_et = rng.integers(0, N_TYPES, n_events)
    aids = [b"agg-%012d" % (seed % 10_000 * 100_000_000 + a) for a in range(n_aggs)]
    filler = _LETTERS[rng.integers(0, len(_LETTERS), n_events + payload_len)].tobytes()
    offs = rng.integers(0, n_events, n_events)
    e_data = []
    for e in range(n_events):
        head = b"%d|%d|%d|%d|" % (e_et[e], c_agg[e_commit[e]], c_rev[e_commit[e]], e_pos[e])
        o = offs[e]
        e_data.append(head + filler[o:o + max(0, payload_len - len(head))])
    return EventData(aids, c_agg, c_rev, c_ts, c_npriv, c_npub, c_first,
                     e_commit, e_pos, e_et, e_data)


def write_table(table: pa.Table, path: str) -> int:
    """Write one Parquet file (creating its directory); returns its bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


# ----------------------------------------------------------------------
# Text corpus
# ----------------------------------------------------------------------
@dataclass
class Corpus:
    """Documents in batches, with the planted duplicate pairs.

    ``exact`` / ``near`` are (original_id, copy_id) pairs; each original
    is used at most once and sits in an earlier batch than its copy."""

    batches: list[list[tuple[int, str]]]
    exact: list[tuple[int, int]]
    near: list[tuple[int, int]]

    @property
    def n_docs(self) -> int:
        return sum(map(len, self.batches))

    @property
    def text_bytes(self) -> int:
        return sum(len(t.encode()) for b in self.batches for _, t in b)

    def table(self, batch: int | None = None) -> pa.Table:
        docs = self.batches[batch] if batch is not None else [
            d for b in self.batches for d in b
        ]
        return pa.table({
            "doc_id": pa.array([d for d, _ in docs], pa.int64()),
            "text": pa.array([t for _, t in docs], pa.string()),
        })


def make_corpus(seed: int, n_batches: int, batch_docs: int, doc_tokens: int) -> Corpus:
    """Batch 0 holds only originals; every later batch plants
    ``PLANTED_SHARE`` exact copies and as many one-token edits of
    still-unused originals from earlier batches."""
    rng = _rng(seed, "corpus")
    words = ["w%x" % i for i in range(VOCAB)]

    def fresh() -> list[str]:
        return [words[i] for i in rng.integers(0, VOCAB, doc_tokens)]

    next_id = 0
    texts: dict[int, list[str]] = {}
    unused: list[int] = []
    batches, exact, near = [], [], []
    for b in range(n_batches):
        batch = []
        n_dup = n_near = 0 if b == 0 else int(batch_docs * PLANTED_SHARE)
        picks = rng.choice(len(unused), n_dup + n_near, replace=False) if b else []
        originals = [unused[i] for i in picks]
        for i in sorted(picks, reverse=True):
            unused.pop(i)
        for j in range(batch_docs):
            doc_id = next_id
            next_id += 1
            if j < n_dup:
                toks = list(texts[originals[j]])
                exact.append((originals[j], doc_id))
            elif j < n_dup + n_near:
                orig = originals[j]
                toks = list(texts[orig])
                toks[int(rng.integers(0, doc_tokens))] = "edit%x" % doc_id
                near.append((orig, doc_id))
            else:
                toks = fresh()
                unused.append(doc_id)
            texts[doc_id] = toks
            batch.append((doc_id, " ".join(toks)))
        order = rng.permutation(len(batch))
        batches.append([batch[i] for i in order])
    return Corpus(batches, exact, near)
