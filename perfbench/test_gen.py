"""The generators are deterministic: the same seed gives byte-identical
inputs, another seed gives different ones.

    python3 -m pytest perfbench/test_gen.py -q
"""

import hashlib
import os
import sys

import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen  # noqa: E402


def digest(*tables: pa.Table) -> str:
    h = hashlib.sha256()
    for t in tables:
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, t.schema) as w:
            w.write_table(t)
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def inputs(seed: int) -> str:
    li = gen.lineitem(seed, 20_000)
    steps = gen.mutation_steps(seed, 5_000, 2, {
        "append": 50, "delete_range": 10, "merge_small": 30, "cdc_drain": 30})
    sources = [gen.merge_source(s, i) for i, s in enumerate(steps) if "update_keys" in s.args]
    c = gen.corpus(seed, 2_000, 200)
    emb, vecs = gen.embeddings(seed, 1_000, 16, 4)
    q = pa.table({"q": gen.queries(seed, 4, 16, vecs).ravel()})
    truth = repr((sorted(c.exact_groups.items()), sorted(c.near_pairs), sorted(c.batch_fresh),
                  [(s.verb, sorted(s.args.items())) for s in steps]))
    return digest(li.table, gen.orders(seed, 5_000), *sources, c.docs, c.batch, emb, q) + truth


def test_same_seed_same_bytes():
    assert inputs(3) == inputs(3)


def test_other_seed_other_bytes():
    assert inputs(3) != inputs(4)


def test_injected_duplicates_are_present():
    c = gen.corpus(5, 2_000, 200)
    texts = c.docs.column("text").to_pylist()
    assert c.exact_groups and c.near_pairs and c.batch_fresh
    for keep, n in c.exact_groups.items():
        assert texts.count(texts[keep]) == n
    for a, b in c.near_pairs:
        assert a < b and texts[a] != texts[b]
