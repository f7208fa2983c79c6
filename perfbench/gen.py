"""Deterministic input generators for the benchmark workloads.

Every generator takes the run's seed and returns pyarrow tables plus the
ground truth the benchmark checks the program's answers against.  The
program under test never sees this module: it only reads the files the
benchmark writes from these tables.

String columns are drawn from seeded vocabularies, so per-row checksums
(string lengths and CRC32s) are computed once per vocabulary entry and
gathered with numpy instead of hashing every row in Python.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

EPOCH_DAYS_1992 = 8035  # 1992-01-01 as days since 1970-01-01

_WORDS = (
    "furiously quickly carefully blithely slyly regular express final "
    "special pending ironic even bold silent unusual careful daring "
    "deposits packages requests accounts instructions theodolites pinto "
    "beans foxes ideas platelets asymptotes dolphins courts dependencies "
    "excuses frets warhorses sheaves sauternes escapades somas orbits "
    "above across after against along among around before behind beneath "
    "nag sleep wake haggle integrate detect boost use cajole engage"
).split()


def _rng(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, stream name), so adding a
    column to one table never shifts the values of another."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


@dataclass
class Vocab:
    """A string pool with per-entry length and CRC32, for checksums."""

    values: pa.Array
    length: np.ndarray
    crc: np.ndarray

    @classmethod
    def of(cls, strings: list[str]) -> "Vocab":
        enc = [s.encode() for s in strings]
        return cls(
            pa.array(strings, pa.string()),
            np.array([len(b) for b in enc], np.int64),
            np.array([zlib.crc32(b) for b in enc], np.int64),
        )

    def take(self, idx: np.ndarray) -> pa.Array:
        return self.values.take(pa.array(idx))


def _sentences(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    words = np.array(_WORDS)
    lens = rng.integers(lo, hi + 1, n)
    picks = rng.integers(0, len(words), int(lens.sum()))
    out, at = [], 0
    for ln in lens:
        out.append(" ".join(words[picks[at : at + ln]]))
        at += ln
    return out


# ---- ingest_scan_curate: lineitem-shaped ----------------------------------

SHIPMODES = Vocab.of(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"])
INSTRUCT = Vocab.of(
    ["COLLECT COD", "DELIVER IN PERSON", "NONE", "TAKE BACK RETURN"]
)
FLAGS = Vocab.of(["A", "N", "R"])
STATUS = Vocab.of(["F", "O"])


@dataclass
class Lineitem:
    table: pa.Table
    # the same columns as numpy arrays, for filter/aggregate oracles
    orderkey: np.ndarray
    price_cents: np.ndarray
    mode_idx: np.ndarray
    comment_crc: np.ndarray
    comment_len: np.ndarray

    def checksum(self, mask: "np.ndarray | None" = None) -> dict:
        """The order-independent checksum a scan must reproduce
        (see :func:`perfbench.workloads.lineitem_checksum_exprs`)."""
        sl = slice(None) if mask is None else mask
        return {
            "rows": int(self.orderkey[sl].size),
            "orderkey": int(self.orderkey[sl].sum()),
            "cents": int(self.price_cents[sl].sum()),
            "comment_crc": int(self.comment_crc[sl].sum()),
            "comment_len": int(self.comment_len[sl].sum()),
        }


def lineitem(seed: int, rows: int) -> Lineitem:
    """``rows`` lineitem-shaped rows clustered on ``l_orderkey`` (1–7
    lines per order, ascending), so a key-range predicate maps to a
    contiguous run of files and pages."""
    rng = _rng(seed, "lineitem")
    per_order = rng.integers(1, 8, rows // 2 + 8)  # mean 4 lines: enough orders
    ends = np.cumsum(per_order)
    n_orders = int(np.searchsorted(ends, rows)) + 1
    per_order = per_order[:n_orders]
    per_order[-1] -= int(ends[n_orders - 1] - rows)
    orderkey = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64) * 4, per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    linenumber = (np.arange(rows) - starts + 1).astype(np.int32)
    qty = rng.integers(1, 51, rows)
    price_cents = qty * rng.integers(90_000, 200_000, rows) // 100
    comments = Vocab.of(_sentences(rng, 1 << 14, 3, 9))
    c_idx = rng.integers(0, len(comments.values), rows)
    mode_idx = rng.integers(0, len(SHIPMODES.values), rows)
    ship = EPOCH_DAYS_1992 + rng.integers(0, 2500, rows)
    table = pa.table(
        {
            "l_orderkey": orderkey,
            "l_partkey": rng.integers(1, 200_000, rows),
            "l_suppkey": rng.integers(1, 10_000, rows),
            "l_linenumber": linenumber,
            "l_quantity": qty.astype(np.float64),
            "l_extendedprice": price_cents / 100.0,
            "l_discount": rng.integers(0, 11, rows) / 100.0,
            "l_tax": rng.integers(0, 9, rows) / 100.0,
            "l_returnflag": FLAGS.take(rng.integers(0, 3, rows)),
            "l_linestatus": STATUS.take(rng.integers(0, 2, rows)),
            "l_shipdate": pa.array(ship.astype(np.int32), pa.date32()),
            "l_commitdate": pa.array(
                (ship + rng.integers(-60, 60, rows)).astype(np.int32), pa.date32()
            ),
            "l_shipinstruct": INSTRUCT.take(rng.integers(0, 4, rows)),
            "l_shipmode": SHIPMODES.take(mode_idx),
            "l_comment": comments.take(c_idx),
        }
    )
    return Lineitem(
        table, orderkey, price_cents, mode_idx,
        comments.crc[c_idx], comments.length[c_idx],
    )


# ---- table_mutations: orders-shaped + a seeded verb sequence ------------

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def orders(seed: int, rows: int, first_key: int = 1, stream: str = "orders") -> pa.Table:
    """Orders-shaped rows with unique ascending keys ``first_key, +1, …``.
    ``o_seq`` is the CDC sequence column (0 for base rows)."""
    rng = _rng(seed, stream)
    comments = Vocab.of(_sentences(rng, 4096, 4, 12))
    return pa.table(
        {
            "o_orderkey": np.arange(first_key, first_key + rows, dtype=np.int64),
            "o_custkey": rng.integers(1, 150_000, rows),
            "o_orderstatus": STATUS.take(rng.integers(0, 2, rows)),
            "o_totalcents": rng.integers(100, 50_000_000, rows),
            "o_orderdate": pa.array(
                (EPOCH_DAYS_1992 + rng.integers(0, 2400, rows)).astype(np.int32),
                pa.date32(),
            ),
            "o_orderpriority": pa.array(PRIORITIES).take(
                pa.array(rng.integers(0, 5, rows))
            ),
            "o_shippriority": rng.integers(0, 8, rows).astype(np.int64),
            "o_comment": comments.take(rng.integers(0, 4096, rows)),
            "o_seq": np.zeros(rows, np.int64),
        }
    )


@dataclass
class MutationStep:
    """One verb call of the mutation loop.  ``args`` are plain values so
    the same step drives both the program and the pyarrow replay."""

    verb: str
    args: dict = field(default_factory=dict)


# verbs in one round: the table is read back after the delete and the
# update, after the merge and after the CDC drain, and compact closes the
# round.  A second, larger batch merge would add ~6 s a round, more than
# one run's time budget allows.
ROUND = (
    "append", "delete_where", "update_where", "scan_after_mutate", "merge_small",
    "scan_after_mutate", "cdc_drain", "scan_after_mutate", "compact",
)


def mutation_steps(seed: int, base_rows: int, rounds: int, sizes: dict) -> list[MutationStep]:
    """The seeded verb sequence.  Keys of appended/inserted rows come
    from a counter above every base key, so each step's expected effect
    is a pure function of the steps before it."""
    rng = _rng(seed, "mutations")
    next_key = base_rows + 1
    steps = []
    for r in range(rounds):
        for verb in ROUND:
            a: dict = {"round": r}
            if verb == "append":
                a.update(first_key=next_key, rows=sizes["append"])
                next_key += sizes["append"]
            elif verb in ("delete_where", "update_where"):
                width = sizes["delete_range"]
                lo = int(rng.integers(1, base_rows - width))
                a.update(lo=lo, hi=lo + width - 1)
                if verb == "update_where":
                    a.update(bump=int(rng.integers(1, 5)))
            elif verb in ("merge_small", "cdc_drain"):
                n = sizes[verb]
                n_new = n // 3
                upd = np.sort(rng.choice(base_rows, n - n_new, replace=False) + 1)
                a.update(
                    update_keys=upd.tolist(),
                    first_key=next_key, new_rows=n_new,
                    src_seed=int(rng.integers(0, 2**31)),
                )
                next_key += n_new
            steps.append(MutationStep(verb, a))
    return steps


def merge_source(step: MutationStep, seq: int) -> pa.Table:
    """Source rows for a merge/CDC step: updates of existing keys plus
    fresh inserts; every row carries sequence ``seq``."""
    a = step.args
    upd = np.asarray(a["update_keys"], np.int64)
    rows = len(upd) + a["new_rows"]
    t = orders(a["src_seed"], rows, stream="merge")
    keys = np.concatenate(
        [upd, np.arange(a["first_key"], a["first_key"] + a["new_rows"], dtype=np.int64)]
    )
    t = t.set_column(0, "o_orderkey", pa.array(keys))
    return t.set_column(
        t.schema.get_field_index("o_seq"), "o_seq", pa.array(np.full(rows, seq, np.int64))
    )


# ---- ingest_scan_curate: documents with injected duplicates + embeddings


@dataclass
class Corpus:
    docs: pa.Table  # doc_id int64, text string
    exact_groups: dict  # keep_id -> dup_count, for groups of size > 1
    near_pairs: set  # (a, b) with a < b: injected near duplicates
    batch: pa.Table  # a new ingest batch for incremental dedup
    batch_fresh: set  # batch doc_ids incremental dedup must keep


def corpus(seed: int, docs: int, batch_docs: int) -> Corpus:
    """``docs`` documents; ~2% are exact copies of an earlier document
    and ~2% near copies (a few words replaced, Jaccard well above 0.5).
    The batch mixes copies of corpus documents, in-batch repeats and
    fresh text."""
    rng = _rng(seed, "corpus")
    texts = _sentences(rng, docs, 40, 80)
    words = np.array(_WORDS)
    role = rng.random(docs)
    src = rng.integers(0, np.maximum(np.arange(docs), 1))
    near_pairs = set()
    for i in np.nonzero(role < 0.04)[0]:
        if i == 0:
            continue
        j = int(src[i])
        if role[i] < 0.02:
            texts[i] = texts[j]
        else:
            toks = texts[j].split(" ")
            for p in rng.choice(len(toks), 2, replace=False):
                toks[p] = str(words[rng.integers(0, len(words))]) + "x"
            texts[i] = " ".join(toks)
            near_pairs.add((j, int(i)))
    groups: dict = {}
    for i, t in enumerate(texts):
        g = groups.setdefault(t, [i, 0])
        g[1] += 1
    exact = {k: n for k, n in groups.values() if n > 1}
    # batch: ids above the corpus; 1/4 copy corpus docs, 1/4 repeat an
    # earlier batch doc, the rest fresh
    b_texts, fresh = [], set()
    b_role = rng.random(batch_docs)
    fresh_text = _sentences(rng, batch_docs, 40, 80)
    seen: dict = {}
    for i in range(batch_docs):
        bid = docs + i
        if b_role[i] < 0.25:
            t = texts[int(rng.integers(0, docs))]
        elif b_role[i] < 0.5 and b_texts:
            t = b_texts[int(rng.integers(0, len(b_texts)))]
        else:
            t = fresh_text[i] + f" batch{seed}"
        b_texts.append(t)
        if t not in groups and t not in seen:
            seen[t] = bid
    fresh = set(seen.values())
    return Corpus(
        pa.table({"doc_id": np.arange(docs, dtype=np.int64), "text": texts}),
        exact, near_pairs,
        pa.table({
            "doc_id": np.arange(docs, docs + batch_docs, dtype=np.int64),
            "text": b_texts,
        }),
        fresh,
    )


def embeddings(seed: int, rows: int, dim: int, clusters: int) -> tuple[pa.Table, np.ndarray]:
    """Unit-norm float32 vectors around ``clusters`` seeded centres; the
    cluster of each row is the recorded ground truth."""
    rng = _rng(seed, "embeddings")
    centres = rng.standard_normal((clusters, dim))
    label = rng.integers(0, clusters, rows)
    v = centres[label] + 0.35 * rng.standard_normal((rows, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), dim)
    table = pa.table({
        "vec_id": np.arange(rows, dtype=np.int64),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })
    return table, v


def queries(seed: int, n: int, dim: int, vecs: np.ndarray) -> np.ndarray:
    """Query vectors: perturbed corpus vectors, so each has true near
    neighbours."""
    rng = _rng(seed, "queries")
    base = vecs[rng.integers(0, len(vecs), n)].astype(np.float64)
    q = base + 0.05 * rng.standard_normal((n, dim))
    return q / np.linalg.norm(q, axis=1, keepdims=True)
