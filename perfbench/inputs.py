"""Seeded input generator for the benchmark.

Every input is a pure function of its seed: the same seed writes the same
parquet files and predicts the same outcome for each of them. The
predictions come from a small model of the engine's documented semantics
(merge clauses, SCD2 versioning, watermark-window delete inference, the
corpus recipe's stages), so the benchmark can check each result without
trusting the program under test.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = np.datetime64("2026-01-01T00:00:00", "us")
STATUSES = np.array(["new", "paid", "packed", "shipped", "returned"])


def _names(rng: np.random.Generator, ids: np.ndarray) -> np.ndarray:
    """Short text payloads that change on every update."""
    tags = rng.integers(0, 1 << 30, size=len(ids))
    return np.array([f"c{i}-{t:08x}" for i, t in zip(ids.tolist(), tags.tolist())])


def write_parquet(path: str, columns: dict[str, np.ndarray], schema: pa.Schema) -> int:
    """Write one bronze slice file; returns its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.table({f.name: pa.array(columns[f.name], f.type) for f in schema}, schema=schema)
    pq.write_table(table, path)
    return os.path.getsize(path)


CDC_SCHEMA = pa.schema(
    [
        ("ID", pa.int64()),
        ("SeqNr", pa.int64()),
        ("CreatedAt", pa.timestamp("us")),
        ("name", pa.string()),
        ("amount_cents", pa.int64()),
        ("status", pa.string()),
        ("deleted", pa.bool_()),
    ]
)


@dataclass
class CdcExpect:
    """What one CDC slice must do to the merge and historic entities."""

    file: str
    rows: int
    bytes: int
    max_seq: int
    # merge-entity summary
    inserted: int
    updated: int
    deleted: int
    inferred: int
    # historic-entity summary
    h_inserted: int
    h_updated: int
    h_unchanged: int
    # merge silver after the slice: rows, soft-deleted rows, sum of live amounts
    m_rows: int
    m_deleted: int
    m_amount: int
    # historic silver after the slice: version rows, open versions
    h_rows: int
    h_open: int
    # point lookups on the merge entity: id -> (name, amount_cents, status, deleted)
    probes: dict[int, tuple] = field(default_factory=dict)


# CDC slice shape: shares of a slice, and how strongly updates favour
# recently created keys (decay length as a share of the key space)
CDC_DAYS = 30
INSERT_FRAC = 0.15
DELETE_FRAC = 0.005
UNCHANGED_FRAC = 0.02
RECENCY = 0.2
CDC_PROBES = 3


class CdcStream:
    """A change-data-capture feed over one keyed table.

    Slice 0 is the bootstrap (every key once). Each later slice mixes
    updates (mostly of recently created keys), inserts of new keys created
    "today", a few soft deletes (``deleted=true``) and a few rows re-sent
    unchanged. Keys never change creation day, so a day-partitioned SCD2
    entity sees updates concentrated in its recent partitions.

    The model tracks a merge entity with ``delete_missing`` on and an SCD2
    entity fed the same slices.
    """

    def __init__(self, seed: int, bronze_dir: str, n_keys: int, slice_rows: int) -> None:
        self.rng = np.random.default_rng(seed)
        self.bronze_dir = bronze_dir
        self.slice_rows = slice_rows
        self.index = 0
        self.next_seq = 0
        self.prev_max: int | None = None
        cap = n_keys * 4
        # last source row per key == the historic entity's open version
        self.seq = np.zeros(cap, np.int64)
        self.day = np.zeros(cap, np.int64)
        self.sec = np.zeros(cap, np.int64)
        self.name = np.empty(cap, object)
        self.amount = np.zeros(cap, np.int64)
        self.status = np.zeros(cap, np.int64)
        self.src_deleted = np.zeros(cap, bool)
        # merge entity row per key (a soft delete keeps the old payload)
        self.m_seq = np.zeros(cap, np.int64)
        self.m_amount = np.zeros(cap, np.int64)
        self.m_name = np.empty(cap, object)
        self.m_status = np.zeros(cap, np.int64)
        self.m_deleted = np.zeros(cap, bool)
        self.n = 0
        self.h_rows = 0
        self._bootstrap_ids = n_keys

    def _file(self) -> str:
        return f"s{self.index:05d}.parquet"

    def _new_seqs(self, k: int) -> np.ndarray:
        s = np.arange(self.next_seq, self.next_seq + k, dtype=np.int64)
        self.next_seq += k
        return self.rng.permutation(s)

    def next_slice(self) -> CdcExpect:
        if self.index == 0:
            return self._bootstrap()
        return self._incremental()

    def _bootstrap(self) -> CdcExpect:
        n = self._bootstrap_ids
        ids = np.arange(n, dtype=np.int64)
        self.n = n
        self.seq[:n] = self._new_seqs(n)
        self.day[:n] = ids * CDC_DAYS // n
        self.sec[:n] = self.rng.integers(0, 86_400, size=n)
        self.name[:n] = _names(self.rng, ids)
        self.amount[:n] = self.rng.integers(100, 1_000_000, size=n)
        self.status[:n] = self.rng.integers(0, len(STATUSES), size=n)
        self.src_deleted[:n] = False
        self._apply_merge(ids, self.seq[:n].copy(), np.zeros(n, bool), np.ones(n, bool))
        self.h_rows = n
        return self._emit(ids, inserted=n, updated=0, deleted=0, inferred=0,
                          h_inserted=n, h_updated=0, h_unchanged=0)

    def _pick_existing(self, k: int) -> np.ndarray:
        """``k`` distinct live keys, weighted toward the most recent."""
        cand = np.flatnonzero(~self.src_deleted[: self.n])
        age = (self.n - 1 - cand).astype(np.float64)
        w = np.exp(-age / max(1.0, RECENCY * self.n))
        return self.rng.choice(cand, size=k, replace=False, p=w / w.sum())

    def _incremental(self) -> CdcExpect:
        s = self.slice_rows
        n_ins = int(round(s * INSERT_FRAC))
        n_del = max(1, int(round(s * DELETE_FRAC)))
        n_unch = int(round(s * UNCHANGED_FRAC))
        n_upd = s - n_ins - n_del - n_unch
        old = self._pick_existing(n_upd + n_del + n_unch)
        upd, dels, unch = old[:n_upd], old[n_upd:n_upd + n_del], old[n_upd + n_del:]
        ins = np.arange(self.n, self.n + n_ins, dtype=np.int64)
        self.n += n_ins
        # new rows: updates, deletes and inserts get fresh sequence numbers
        fresh = np.concatenate([upd, dels, ins])
        seqs = self._new_seqs(len(fresh))
        self.seq[fresh] = seqs
        self.day[ins] = CDC_DAYS + self.index
        self.sec[ins] = self.rng.integers(0, 86_400, size=n_ins)
        changed = np.concatenate([upd, ins])
        self.name[changed] = _names(self.rng, changed)
        self.amount[changed] = self.rng.integers(100, 1_000_000, size=len(changed))
        self.status[changed] = self.rng.integers(0, len(STATUSES), size=len(changed))
        self.src_deleted[dels] = True
        ids = np.concatenate([upd, dels, unch, ins])
        is_del = np.zeros(len(ids), bool)
        is_del[n_upd:n_upd + n_del] = True
        # merge model: updates/inserts take the source row, soft deletes keep
        # the target payload, unchanged re-sends touch (keep the target row)
        takes_source = np.zeros(len(ids), bool)
        takes_source[:n_upd] = True
        takes_source[n_upd + n_del + n_unch:] = True
        inferred = self._apply_merge(ids, self.seq[ids], is_del, takes_source, max_seq=int(seqs.max()))
        self.h_rows += n_ins + n_upd + n_del
        return self._emit(
            ids,
            inserted=n_ins,
            updated=n_upd + n_unch,
            deleted=n_del,
            inferred=inferred,
            h_inserted=n_ins,
            h_updated=n_upd + n_del,
            h_unchanged=n_unch,
            probe_pool=(upd, ins),
        )

    def _apply_merge(self, ids, seqs, is_del, takes_source, max_seq: int | None = None) -> int:
        src = ids[takes_source]
        self.m_seq[src] = seqs[takes_source]
        self.m_amount[src] = self.amount[src]
        self.m_name[src] = self.name[src]
        self.m_status[src] = self.status[src]
        self.m_deleted[src] = False
        self.m_deleted[ids[is_del]] = True
        inferred = 0
        if self.prev_max is not None and max_seq is not None:
            in_slice = np.zeros(self.n, bool)
            in_slice[ids] = True
            window = (
                ~self.m_deleted[: self.n]
                & ~in_slice
                & (self.m_seq[: self.n] >= self.prev_max)
                & (self.m_seq[: self.n] <= max_seq)
            )
            hit = np.flatnonzero(window)
            self.m_deleted[hit] = True
            inferred = len(hit)
        return inferred

    def _emit(self, ids, probe_pool=None, **counts) -> CdcExpect:
        rows = len(ids)
        order = self.rng.permutation(rows)
        ids = ids[order]
        created = EPOCH + (self.day[ids] * 86_400 + self.sec[ids]) * np.timedelta64(1, "s")
        cols = {
            "ID": ids,
            "SeqNr": self.seq[ids],
            "CreatedAt": created,
            "name": self.name[ids],
            "amount_cents": self.amount[ids],
            "status": STATUSES[self.status[ids]],
            "deleted": self.src_deleted[ids],
        }
        fname = self._file()
        size = write_parquet(os.path.join(self.bronze_dir, fname), cols, CDC_SCHEMA)
        max_seq = int(self.seq[ids].max())
        self.prev_max = max_seq
        live = ~self.m_deleted[: self.n]
        exp = CdcExpect(
            file=fname,
            rows=rows,
            bytes=size,
            max_seq=max_seq,
            m_rows=self.n,
            m_deleted=int((~live).sum()),
            m_amount=int(self.m_amount[: self.n][live].sum()),
            h_rows=self.h_rows,
            h_open=self.n,
            **counts,
        )
        # probes: one updated key, one inserted key, one key from anywhere
        pool = [] if probe_pool is None else [p for p in probe_pool if len(p)]
        picks = [int(self.rng.choice(p)) for p in pool]
        while len(picks) < CDC_PROBES:
            picks.append(int(self.rng.integers(0, self.n)))
        for k in picks[:CDC_PROBES]:
            exp.probes[k] = (
                self.m_name[k],
                int(self.m_amount[k]),
                str(STATUSES[self.m_status[k]]),
                bool(self.m_deleted[k]),
            )
        self.index += 1
        return exp


# ------------------------------------------------------------------ corpus
CORPUS_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
# shares of the corpus: documents the quality gate rejects, and families
# (a base document plus planted copies) by kind
SHORT_FRAC = 0.02
REPETITIVE_FRAC = 0.02
EXACT_FRAC = 0.10  # base + 1-2 byte-identical copies
PII_FRAC = 0.05  # base with an e-mail + 1-2 copies with other e-mails
NEAR_FRAC = 0.10  # base + a copy with one word replaced
CORPUS_PROBES = 6
# MinHash as clean_corpus configures it: 8 hashes in bands of 2 over
# word 3-shingles
SHINGLE = 3
BAND = 2
N_HASHES = 8


@dataclass
class CorpusExpect:
    file: str
    docs: int
    bytes: int
    survivors: int  # documents clean_corpus must keep
    chars: int  # total text length of the survivors, after redaction
    probes: dict[int, str]  # surviving doc_id -> its cleaned text


def _signature(text: str) -> tuple[int, ...]:
    """The MinHash signature of one document: the i-th hash of a shingle is
    the i-th 32-bit slice of its sha256."""
    words = text.split(" ")
    shingles = {" ".join(words[i:i + SHINGLE]) for i in range(len(words) - SHINGLE + 1)}
    digests = b"".join(hashlib.sha256(sh.encode()).digest()[:4 * N_HASHES] for sh in shingles)
    return tuple(np.frombuffer(digests, ">u4").reshape(-1, N_HASHES).min(axis=0).tolist())


def _components(ids: list[int], sigs: list[tuple[int, ...]]) -> dict[int, int]:
    """doc id -> smallest doc id of its LSH-candidate connected component."""
    parent = {i: i for i in ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for b in range(N_HASHES // BAND):
        buckets: dict[tuple, int] = {}
        for i, sig in zip(ids, sigs):
            key = sig[b * BAND:(b + 1) * BAND]
            j = buckets.setdefault(key, i)
            if j != i:
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
    return {i: find(i) for i in ids}


def make_corpus(seed: int, path: str, n_docs: int) -> CorpusExpect:
    """A document corpus with planted rejects, exact copies, copies that
    differ only in an e-mail address and near-duplicates. The expected
    survivors follow clean_corpus's documented stages: quality gate, PII
    redaction, exact dedup on the redacted text, then MinHash-LSH clusters
    keeping their smallest doc id."""
    rng = np.random.default_rng(seed)
    syl = np.array(SYLLABLES + [""], dtype=object)
    parts = rng.integers(0, len(SYLLABLES), size=(40_000, 3))
    parts[rng.random(40_000) < 0.5, 2] = len(SYLLABLES)  # two or three syllables
    vocab = np.unique(syl[parts[:, 0]] + syl[parts[:, 1]] + syl[parts[:, 2]])

    def words(k: int) -> list[str]:
        return [str(w) for w in rng.choice(vocab, size=k)]

    def email() -> str:
        return f"{words(1)[0]}.{words(1)[0]}@{words(1)[0]}.com"

    texts: list[str] = []
    redacted: list[str] = []
    for _ in range(int(n_docs * SHORT_FRAC)):
        t = " ".join(words(int(rng.integers(3, 9))))
        texts.append(t)
        redacted.append(None)
    for _ in range(int(n_docs * REPETITIVE_FRAC)):
        t = " ".join(rng.choice(words(2), size=int(rng.integers(40, 80))))
        texts.append(t)
        redacted.append(None)
    while len(texts) < n_docs:
        base = words(int(rng.integers(40, 80)))
        u = rng.random()
        if u < PII_FRAC:
            at = int(rng.integers(0, len(base)))
            for _ in range(1 + int(rng.integers(1, 3))):
                texts.append(" ".join(base[:at] + [email()] + base[at:]))
                redacted.append(" ".join(base[:at] + ["<EMAIL>"] + base[at:]))
            continue
        t = " ".join(base)
        copies = [t]
        if u < PII_FRAC + EXACT_FRAC:
            copies += [t] * int(rng.integers(1, 3))
        elif u < PII_FRAC + EXACT_FRAC + NEAR_FRAC:
            near = list(base)
            near[int(rng.integers(0, len(near)))] = words(1)[0]
            copies.append(" ".join(near))
        texts += copies
        redacted += copies
    texts, redacted = texts[:n_docs], redacted[:n_docs]
    doc_ids = rng.permutation(n_docs).astype(np.int64)

    # expected outcome: exact dedup keeps the smallest id per redacted text,
    # near dedup the smallest id per component among those
    keeper: dict[str, int] = {}
    for i, r in zip(doc_ids.tolist(), redacted):
        if r is not None and (r not in keeper or i < keeper[r]):
            keeper[r] = i
    kept = sorted((i, r) for r, i in keeper.items())
    comp = _components([i for i, _ in kept], [_signature(r) for _, r in kept])
    survivors = {i: r for i, r in kept if comp[i] == i}
    picks = rng.choice(sorted(survivors), size=CORPUS_PROBES, replace=False)

    size = write_parquet(path, {"doc_id": doc_ids, "text": np.array(texts, object)}, CORPUS_SCHEMA)
    return CorpusExpect(
        file=path,
        docs=n_docs,
        bytes=size,
        survivors=len(survivors),
        chars=sum(len(r) for r in survivors.values()),
        probes={int(i): survivors[int(i)] for i in picks},
    )
