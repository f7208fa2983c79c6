"""Property-based roundtrip tests (SURVEY.md §5 — mirrors the
reference's fuzz strategy src/fuzz.zig:63-151: arbitrary schema →
arbitrary data → write → read → structural equality), via Hypothesis
over pyarrow tables.

Bounds follow the reference's generator (src/fuzz_input.zig:17,82):
nesting depth ≤ 3 here (8 upstream — deep nesting is slow in pure
Python), ≤ 255 rows, 1–4 fields.
"""

from __future__ import annotations

import pyarrow as pa
from hypothesis import HealthCheck, given, settings, strategies as st

from olive_spark.format import OliveError, read_all_tables, read_chunk, write_chunk

SCALARS = [
    (pa.int8(), st.integers(-128, 127)),
    (pa.int64(), st.integers(-(2**63), 2**63 - 1)),
    (pa.uint32(), st.integers(0, 2**32 - 1)),
    (pa.float64(), st.floats(allow_nan=False, width=64)),
    (pa.bool_(), st.booleans()),
    (pa.string(), st.text(max_size=40)),
    (pa.binary(), st.binary(max_size=40)),
    (pa.binary(20), st.binary(min_size=20, max_size=20)),
    (pa.binary(32), st.binary(min_size=32, max_size=32)),
    (pa.timestamp("us"), st.integers(-(2**52), 2**52)),
]


@st.composite
def column(draw, depth: int = 0):
    dt, elems = draw(st.sampled_from(SCALARS))
    base = st.one_of(st.none(), elems)
    if depth < 2 and draw(st.booleans()):
        if draw(st.booleans()):
            dt = pa.list_(dt)
            base = st.one_of(st.none(), st.lists(base, max_size=4))
        else:
            dt = pa.struct([pa.field("a", dt)])
            base = st.one_of(
                st.none(), st.fixed_dictionaries({"a": base})
            )
    return dt, base


@st.composite
def table(draw):
    n_fields = draw(st.integers(1, 4))
    n_rows = draw(st.integers(0, 255))
    arrays, fields = [], []
    for i in range(n_fields):
        dt, elems = draw(column())
        vals = draw(
            st.lists(elems, min_size=n_rows, max_size=n_rows)
        )
        if pa.types.is_timestamp(dt):
            arr = pa.array(
                [None if v is None else int(v) for v in vals], pa.int64()
            ).cast(dt)
        else:
            arr = pa.array(vals, dt)
        arrays.append(arr)
        fields.append(pa.field(f"f{i}", dt))
    return pa.Table.from_arrays(arrays, schema=pa.schema(fields))


@given(t=table(), page_rows=st.sampled_from([7, 64, 100000]))
@settings(
    max_examples=60, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
def test_roundtrip_property(t: pa.Table, page_rows: int):
    got = read_all_tables(write_chunk({"t": t}, page_rows=page_rows))["t"]
    assert got.schema.equals(t.schema)
    assert got.equals(t)


@given(t=table(), data=st.data())
@settings(
    max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
def test_hostile_bytes_property(t: pa.Table, data):
    """Bit-flipped chunks must raise typed OliveError or return valid
    tables — never crash (reference src/fuzz.zig:12-61)."""
    blob = bytearray(write_chunk({"t": t}))
    n_flips = data.draw(st.integers(1, 8))
    for _ in range(n_flips):
        i = data.draw(st.integers(0, len(blob) - 1))
        blob[i] ^= 1 << data.draw(st.integers(0, 7))
    try:
        read_chunk(bytes(blob))
    except OliveError:
        pass


@given(data=st.data())
@settings(max_examples=100, deadline=None)
def test_sliced_list_offsets_property(data):
    """For ANY slice of ANY list array, the rebased (offsets, values)
    pair must reproduce exactly the sliced lists — the contract every
    reduceat consumer (minhash, simhash) depends on."""
    import numpy as np

    from olive_spark.ops.dedup import _list_offsets_values

    lists = data.draw(
        st.lists(st.lists(st.integers(-2**40, 2**40), max_size=6), max_size=12)
    )
    la = pa.array(lists, pa.list_(pa.int64()))
    start = data.draw(st.integers(0, len(lists)))
    length = data.draw(st.integers(0, len(lists) - start))
    s = la.slice(start, length)
    off, vals = _list_offsets_values(s)
    rebuilt = [
        vals[off[i]:off[i + 1]].tolist() for i in range(len(off) - 1)
    ]
    assert rebuilt == lists[start:start + length]
    if len(vals):
        # reduceat over non-empty rows gives per-list minima
        lens = np.diff(off)
        nz = np.nonzero(lens > 0)[0]
        if nz.size:
            mins = np.minimum.reduceat(vals, off[nz])
            expect = [min(lists[start + i]) for i in nz]
            assert mins.tolist() == expect


@given(
    sizes=st.lists(st.integers(0, 1 << 22), min_size=1, max_size=64),
    max_pb=st.integers(1 << 16, 1 << 28),
    open_cost=st.integers(0, 1 << 20),
    min_parts=st.integers(1, 64),
    floor=st.sampled_from([0, 1 << 20, 4 << 20]),
)
@settings(max_examples=200, deadline=None)
def test_pack_files_partition_invariants(tmp_path_factory, sizes, max_pb,
                                         open_cost, min_parts, floor):
    """Bin-packing must (a) assign every file to exactly one bin, in
    order; (b) never exceed maxPartitionBytes per bin except for a
    single oversized file; (c) produce at least one bin; (d) fill every
    bin before the last to the partition floor, unless the
    maxPartitionBytes cap closed it."""
    import os

    from olive_spark.datasource.olive_datasource import _pack_files

    d = tmp_path_factory.mktemp("pack")
    files = []
    for i, s in enumerate(sizes):
        p = os.path.join(str(d), f"f{i:03d}")
        with open(p, "wb") as fh:
            fh.truncate(s)
        files.append(p)
    bins = _pack_files(files, max_pb, open_cost, min_parts, floor)
    flat = [f for b in bins for f in b]
    assert flat == files, "every file exactly once, order preserved"
    assert all(len(b) >= 1 for b in bins)
    padded = lambda fs: sum(os.path.getsize(f) + open_cost for f in fs)  # noqa: E731
    for b in bins:
        if len(b) > 1:
            # multi-file bins respect the hard cap up to one trailing
            # file (the wave-target close happens after adding)
            assert padded(b[:-1]) <= max_pb, "bin grew past the cap before closing"
    for b, nxt in zip(bins, bins[1:]):
        capped = padded(b) + padded(nxt[:1]) > max_pb
        assert capped or padded(b) >= min(floor, max_pb), (
            "bin closed under the partition floor"
        )


@given(
    digits=st.integers(1, 60),
    scale=st.integers(0, 10),
    sign=st.booleans(),
    data=st.data(),
)
@settings(max_examples=200, deadline=None)
def test_decimal256_binary_bytes_exact(digits, scale, sign, data):
    """The binary-fallback bytes must decode back to the EXACT unscaled
    integer for any precision up to 60 digits — Decimal.scaleb's
    28-digit context rounding is the regression this pins."""
    import decimal

    from olive_spark.datasource.olive_datasource import _decimal256_to_binary

    n = data.draw(st.integers(10 ** (digits - 1), 10**digits - 1))
    if sign:
        n = -n
    prec = max(digits + scale, scale + 1)
    if prec > 76:
        return  # beyond decimal256
    with decimal.localcontext() as ctx:
        ctx.prec = 80
        v = decimal.Decimal(n).scaleb(-scale)
    arr = pa.array([v, None], pa.decimal256(min(76, prec), scale))
    out = _decimal256_to_binary(arr)
    assert out[1].as_py() is None
    got = int.from_bytes(out[0].as_py(), "big", signed=True)
    assert got == n, f"unscaled mismatch: {got} != {n}"


# a 2-letter alphabet with lengths straddling the 64-char stats cut so
# shared-64-prefix collisions (the truncation soundness edge) actually
# occur, instead of being a 2^-300 coincidence under free-form text
_adv_str = st.one_of(
    st.text(max_size=80),
    st.builds(
        lambda head, tail: "a" * head + tail,
        st.integers(60, 68),
        st.text(alphabet="ab", max_size=4),
    ),
)


@given(
    vals=st.lists(
        st.one_of(st.integers(-1000, 1000), st.none()), min_size=1, max_size=60
    ),
    strs=st.lists(
        st.one_of(_adv_str, st.none()), min_size=1, max_size=60
    ),
    op=st.sampled_from(["=", "<", "<=", ">", ">=", "in", "startswith"]),
    lit=st.integers(-1200, 1200),
    slit=_adv_str,
    dscale=st.integers(-3, 3),
)
@settings(max_examples=300, deadline=None)
def test_manifest_pruning_is_sound(vals, strs, op, lit, slit, dscale):
    """entry_prunable == True must IMPLY zero matching rows — for ints,
    decimals (numeric, not lexicographic, order), and strings including
    the 64-char truncation edge.  The converse (keeping a file with no
    matches) is allowed; dropping a file with matches is the bug class
    this pins."""
    from decimal import Decimal

    import pyarrow.compute as pc

    from olive_spark.format.manifest import entry_prunable, table_summary

    n = min(len(vals), len(strs))
    t = pa.table({
        "x": pa.array(vals[:n], pa.int64()),
        "s": pa.array(strs[:n], pa.large_string()),
        "d": pa.array(
            [None if v is None else Decimal(v).scaleb(-2) for v in vals[:n]],
            pa.decimal128(12, 2),
        ),
    })
    ent = table_summary(t)
    dlit = Decimal(lit).scaleb(-2) + Decimal(dscale).scaleb(-2)

    for col, v in (("x", lit), ("s", slit), ("d", dlit)):
        if op == "startswith" and col != "s":
            continue
        value = [v] if op == "in" else v
        if entry_prunable(ent, [(col, op, value)]):
            c = pc.drop_null(t.column(col))
            if op == "=":
                matches = pc.sum(pc.equal(c, v)).as_py() or 0
            elif op == "in":
                matches = pc.sum(pc.is_in(c, value_set=pa.array([v]))).as_py() or 0
            elif op == "startswith":
                matches = pc.sum(pc.starts_with(c, pattern=v)).as_py() or 0
            else:
                f = {"<": pc.less, "<=": pc.less_equal,
                     ">": pc.greater, ">=": pc.greater_equal}[op]
                matches = pc.sum(f(c, v)).as_py() or 0
            assert matches == 0, (col, op, v, ent)


def test_stats_pruning_decimal_is_numeric_not_lexicographic():
    """Regression: decimal stats stored as strings compared '9.00' >
    '10.00' lexicographically and pruned files containing matches."""
    from decimal import Decimal

    from olive_spark.format.manifest import entry_prunable, table_summary

    t = pa.table({"d": pa.array(
        [Decimal("1.00"), Decimal("9.00"), Decimal("10.00")],
        pa.decimal128(10, 2),
    )})
    ent = {"columns": table_summary(t)["columns"]}
    # 9.00 is IN the file — must never prune
    assert not entry_prunable(ent, [("d", "=", Decimal("9.00"))])
    assert not entry_prunable(ent, [("d", ">=", Decimal("10.00"))])
    assert not entry_prunable(ent, [("d", "<=", Decimal("1.00"))])
    # 11 is provably outside
    assert entry_prunable(ent, [("d", ">", Decimal("11.00"))])


def test_stats_pruning_long_string_bounds_are_sound():
    """Regression: a 64-char-prefix-truncated max UNDERSTATES the true
    max, and truncating the filter literal flips </> semantics — both
    pruned files that contained matching rows."""
    from olive_spark.format.manifest import entry_prunable, table_summary

    row = "a" * 65
    t = pa.table({"s": pa.array([row], pa.large_string())})
    ent = {"columns": table_summary(t)["columns"]}
    st = ent["columns"]["s"]
    assert st["min"] <= row <= st["max"], st  # bounds must bracket the row
    # row matches both of these — must never prune
    assert not entry_prunable(ent, [("s", "<", "a" * 64 + "b")])
    assert not entry_prunable(ent, [("s", ">", "a" * 63)])
    assert not entry_prunable(ent, [("s", "=", row)])
    # provably outside (bumped-prefix max is 'a'*63 + 'b')
    assert entry_prunable(ent, [("s", ">", "b")])
    assert entry_prunable(ent, [("s", "<", "a")])


def test_snapshot_log_matches_model_under_random_histories(tmp_path):
    """Model-based check of the snapshot log: random sequences of
    append / compact-style replace / overwrite-reset / RESTORE-shaped
    commits / tagging / expire must keep files_at() identical to a
    plain-Python model at EVERY retained version, tags must resolve to
    exactly the versions the model tagged, and expire must preserve the
    retained suffix (and only its tags) exactly."""
    import random

    import pytest

    from olive_spark.format import snapshots

    rng = random.Random(77)
    for trial in range(20):
        d = str(tmp_path / f"log{trial}")
        model: list[set] = []  # live set per version (1-indexed)
        tags: dict = {}  # name -> version, mirror of the log's map
        live: set = set()
        next_file = 0

        def fresh(n):
            nonlocal next_file
            out = [f"f{next_file + i}.olive" for i in range(n)]
            next_file += n
            return out

        for _step in range(rng.randrange(3, 12)):
            op = rng.random()
            if op < 0.5 or not live:  # append
                add = fresh(rng.randrange(1, 4))
                snapshots.append_entry(d, add=add)
                live = live | set(add)
            elif op < 0.7:  # compact-style replace of a random subset
                gone = set(rng.sample(sorted(live), rng.randrange(1, len(live) + 1)))
                add = fresh(1)
                snapshots.append_entry(d, add=add, remove=sorted(gone))
                live = (live - gone) | set(add)
            elif op < 0.85 and model:  # RESTORE-shaped commit
                tv = rng.randrange(1, len(model) + 1)
                target = model[tv - 1]
                snapshots.append_entry(
                    d, add=sorted(target - live),
                    remove=sorted(live - target), tag=f"restore:{tv}",
                )
                live = set(target)
            else:  # overwrite reset
                add = fresh(rng.randrange(1, 3))
                snapshots.append_entry(d, add=add, reset=True)
                live = set(add)
            model.append(set(live))
            if rng.random() < 0.3:  # name the version just committed
                name = f"t{trial}_{_step}"
                snapshots.tag_version(d, name, version=len(model))
                tags[name] = len(model)

        for v, want in enumerate(model, start=1):
            assert set(snapshots.files_at(d, v)) == want, (trial, v)
        assert snapshots.list_version_tags(d) == tags, trial
        for name, tv in tags.items():
            assert snapshots.version_for_tag(d, name) == tv

        retain = rng.randrange(1, len(model) + 1)
        snapshots.expire(d, retain)
        kept = list(range(len(model) - retain + 1, len(model) + 1))
        for v in kept:
            assert set(snapshots.files_at(d, v)) == model[v - 1], (trial, v)
        for v in range(1, kept[0]):
            with pytest.raises(Exception, match="unknown snapshot"):
                snapshots.files_at(d, v)
        # tags survive expire iff their version did
        kept_set = set(kept)
        assert snapshots.list_version_tags(d) == {
            k: v for k, v in tags.items() if v in kept_set
        }, trial
        # expire is idempotent at the same retention
        before = snapshots.load_log(d)
        snapshots.expire(d, retain)
        assert snapshots.load_log(d) == before, trial


@settings(max_examples=300, deadline=None)
@given(
    data=st.data(),
    kind=st.sampled_from(["bucket", "truncate_int", "truncate_str",
                          "days", "hours", "months"]),
    op=st.sampled_from(["=", ">", ">=", "<", "<=", "in"]),
)
def test_transform_pruning_is_sound(data, kind, op):
    """Soundness fuzz for hidden-partition pruning: for a random row
    value x, the dir that DERIVES from x must never be pruned by a
    predicate x itself satisfies — a wrong prune silently loses rows.
    (Effectiveness is covered by the targeted tests; this pins the
    never-wrong direction across all transforms and ops.)"""
    import datetime as dt

    from olive_spark.format.partition import (
        derive_array,
        transform_dir_prunable,
    )

    if kind == "bucket":
        n = data.draw(st.integers(1, 64))
        t = {"kind": "bucket", "col": "c", "n": n, "dir": "d"}
        x = data.draw(st.integers(-(1 << 62), 1 << 62))
        lit = data.draw(st.integers(-(1 << 62), 1 << 62))
        col = pa.array([x], pa.int64())
    elif kind == "truncate_int":
        n = data.draw(st.integers(1, 1000))
        t = {"kind": "truncate", "col": "c", "n": n, "dir": "d"}
        x = data.draw(st.integers(-(1 << 40), 1 << 40))
        lit = data.draw(st.integers(-(1 << 40), 1 << 40))
        col = pa.array([x], pa.int64())
    elif kind == "truncate_str":
        n = data.draw(st.integers(1, 8))
        t = {"kind": "truncate", "col": "c", "n": n, "dir": "d"}
        alpha = st.text(alphabet="abcxyz01", min_size=0, max_size=12)
        x = data.draw(alpha)
        lit = data.draw(alpha)
        col = pa.array([x], pa.string())
    else:
        t = {"kind": kind, "col": "c", "dir": "d"}
        base = dt.datetime(2020, 1, 1, tzinfo=dt.timezone.utc)
        x = base + dt.timedelta(
            microseconds=data.draw(st.integers(0, 10**14))
        )
        lit_aware = base + dt.timedelta(
            microseconds=data.draw(st.integers(0, 10**14))
        )
        # predicates arrive naive (Spark fromInternal): strip tz on a
        # UTC host (conftest pins no TZ override; value == local time
        # only when host tz is UTC, which the CI container is — the
        # non-UTC path has its own dedicated test)
        lit = lit_aware.replace(tzinfo=None)
        col = pa.array([x], pa.timestamp("us", tz="UTC"))

    dirval = derive_array(pa.table({"c": col}), t)[0].as_py()
    dirs = {"d": str(dirval)}

    if op == "in":
        preds = [("c", "in", [lit])]
        cmp_lit = lit if kind not in ("days", "hours", "months") \
            else lit.replace(tzinfo=dt.timezone.utc)
        sat = x == cmp_lit
    else:
        import operator as _op

        fn = {"=": _op.eq, ">": _op.gt, ">=": _op.ge,
              "<": _op.lt, "<=": _op.le}[op]
        cmp_lit = lit if kind not in ("days", "hours", "months") \
            else lit.replace(tzinfo=dt.timezone.utc)
        try:
            sat = fn(x, cmp_lit)
        except TypeError:
            return
        preds = [("c", op, lit)]

    if sat:
        assert not transform_dir_prunable(dirs, preds, [t]), (
            t, x, preds, dirs,
        )


def test_stats_pruning_naive_timestamps_local_tz():
    """r9 review finding (the stats-path twin of the r8 directory-
    pruning advice): naive pushed timestamp literals are PROCESS-LOCAL
    (Spark fromInternal), so _stats_domain must read them through the
    local tz — treating them as UTC shifts page/file pruning by the
    host offset and silently drops matching rows on non-UTC hosts."""
    import datetime as dt
    import os
    import time

    from olive_spark.format.manifest import _stats_domain, stats_disprove

    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"  # UTC-4 in June (EDT)
    time.tzset()
    try:
        # stored stats: epoch-us for a file covering
        # [2024-06-16T00:30Z, 2024-06-16T02:00Z]
        mn = int(dt.datetime(2024, 6, 16, 0, 30,
                             tzinfo=dt.timezone.utc).timestamp() * 1e6)
        mx = int(dt.datetime(2024, 6, 16, 2, 0,
                             tzinfo=dt.timezone.utc).timestamp() * 1e6)
        # pushed literal: naive LOCAL 2024-06-15T21:00 EDT == 01:00Z —
        # INSIDE the file's range.  Under the old UTC reading it became
        # 21:00Z (> mx) and `>` pruning dropped the file.
        lit = dt.datetime(2024, 6, 15, 21, 0, 0)
        v = _stats_domain(lit)
        assert not stats_disprove(mn, mx, ">", [v])
        assert not stats_disprove(mn, mx, "=", [v])
        assert not stats_disprove(mn, mx, "in", [v])
        # and a literal genuinely past the file still prunes
        past = _stats_domain(dt.datetime(2024, 6, 15, 23, 0, 0))  # 03:00Z
        assert stats_disprove(mn, mx, ">", [past])
        assert stats_disprove(mn, mx, ">=", [past])
        # DST fold span: 2024-11-03T01:30 EST/EDT is ambiguous (05:30Z
        # or 06:30Z) — a file covering only one reading must be KEPT
        fold_lit = _stats_domain(dt.datetime(2024, 11, 3, 1, 30, 0))
        assert isinstance(fold_lit, tuple) and fold_lit[0] < fold_lit[1]
        mn2 = int(dt.datetime(2024, 11, 3, 6, 0,
                              tzinfo=dt.timezone.utc).timestamp() * 1e6)
        mx2 = int(dt.datetime(2024, 11, 3, 7, 0,
                              tzinfo=dt.timezone.utc).timestamp() * 1e6)
        assert not stats_disprove(mn2, mx2, "=", [fold_lit])
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def test_timestamp_resolution_and_provenance_model(tmp_path):
    """Model check for the r11 log surfaces: version_at_timestamp must
    equal the max version whose recorded ts is at-or-before the probe
    (for probes at every entry's own ts, between entries, and outside
    the range), and snapshot_history must report EXACTLY the op/params
    each commit stamped — including after expire collapses a prefix
    (the retained suffix keeps its provenance; the collapse base is a
    vacuum-base, never a phantom op)."""
    import random

    import pytest

    from olive_spark.format import snapshots
    from olive_spark.format.errors import ValidationError
    from olive_spark.ops.maintenance import snapshot_history

    rng = random.Random(1311)
    for trial in range(10):
        d = str(tmp_path / f"prov{trial}")
        ops = []
        nf = 0
        for step in range(rng.randrange(3, 10)):
            op = rng.choice(["append", "delete", "merge", "stream-epoch"])
            params = {"step": step} if rng.random() < 0.5 else None
            snapshots.append_entry(
                d, add=[f"f{nf}.olive"], op=op, params=params,
            )
            nf += 1
            ops.append((op, params))
        entries = snapshots.load_log(d)["entries"]
        ts_of = {int(e["v"]): float(e["ts"]) for e in entries}
        # resolver vs model at every entry ts, between entries, outside
        probes = [t for t in ts_of.values()]
        probes += [t + 0.0005 for t in ts_of.values()]
        probes.append(max(ts_of.values()) + 100.0)
        for probe in probes:
            want = max(v for v, t in ts_of.items() if t <= probe)
            assert snapshots.version_at_timestamp(d, probe) == want
        with pytest.raises(ValidationError):
            snapshots.version_at_timestamp(d, min(ts_of.values()) - 1.0)
        # exact provenance, pre-expire
        hist = snapshot_history(d)
        assert [h["kind"] for h in hist] == [o for o, _p in ops], trial
        for h, (_o, p) in zip(hist, ops):
            assert h.get("params") == (p if p else None), (trial, h)
        # provenance survives expire on the retained suffix
        retain = rng.randrange(1, len(ops) + 1)
        snapshots.expire(d, retain)
        hist2 = snapshot_history(d)
        tail = hist2[-(retain - 1):] if retain > 1 else []
        want_tail = ops[-(retain - 1):] if retain > 1 else []
        assert [h["kind"] for h in tail] == [o for o, _p in want_tail]
        assert hist2[0]["kind"] in ("vacuum-base", ops[len(ops) - retain][0])
