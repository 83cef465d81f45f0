"""Property-based tests (SURVEY.md §5.4): algebraic identities and codec
totality on generated inputs.

Spark-backed properties use few, small examples (a SparkSession round-trip
per example); the pure-Python properties (codec, the batched chunk loop)
run hundreds of cases.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from dp_dimension_importer_spark.pipeline.avro_codec import (
    _decode_long,
    _encode_long,
    decode_event,
    encode_event,
)
from dp_dimension_importer_spark.pipeline.importer import (
    BatchedCalls,
    process_instance_batched,
)

# ---------------------------------------------------------------------------
# Avro codec
# ---------------------------------------------------------------------------

int64s = st.integers(min_value=-(2**63), max_value=2**63 - 1)


@given(int64s)
def test_avro_long_roundtrip(n):
    assert _decode_long(_encode_long(n), 0) == (n, len(_encode_long(n)))


@given(st.text(), st.text())
def test_avro_event_roundtrip(f, i):
    assert decode_event(encode_event(f, i)) == (f, i)


@given(st.binary(max_size=64))
def test_avro_decode_is_total(b):
    """Arbitrary bytes never raise: either a full strict decode or None."""
    out = decode_event(b)
    assert out is None or encode_event(*out) == b


# ---------------------------------------------------------------------------
# batched per-instance loop vs its spec (the reference handler's contract:
# handler/incoming_instance_handler_test.go:159-199, 830-889)
# ---------------------------------------------------------------------------

dim_strategy = st.fixed_dictionaries(
    {
        "dimension_id": st.sampled_from(["geo", "sex", "age", "time"]),
        "option": st.text(
            alphabet=st.characters(whitelist_categories=("Ll",)), min_size=1, max_size=6
        ),
        "code_list_id": st.sampled_from(["cl1", "cl2"]),
        "node_id": st.sampled_from(["", "n1", "n2"]),
    }
)


@given(st.lists(dim_strategy, min_size=1, max_size=12), st.integers(1, 5))
@settings(max_examples=200, deadline=None)
def test_batched_loop_invariants(dims, batch_size):
    orders = {}

    def lookup(cl_id, codes):
        return {c: (orders.setdefault(c, len(c) % 3) or None) for c in codes}

    calls = BatchedCalls()
    process_instance_batched("inst", dims, batch_size, lookup, calls)

    # every dimension inserted exactly once, in order
    assert calls.inserted == list(dims)
    # chunking: full chunks then remainder (reference :186-204)
    n_chunks = len(dims) // batch_size + (1 if len(dims) % batch_size else 0)
    assert len(calls.patches) == n_chunks  # ONE patch per chunk (:269-278)
    # 'time' dimensions never create code relationships (:295-302)
    rel_counts = len([d for d in dims if d["dimension_id"] != "time"])
    assert len(calls.relationships) == rel_counts
    # each chunk's order lookups partition that chunk's codes by code list
    flat_lookup_codes = sorted(c for _, codes in calls.order_lookups for c in codes)
    assert flat_lookup_codes == sorted(d["option"] for d in dims)
    # patch updates omit rows with neither node_id nor order (:830-889)
    for _, updates in calls.patches:
        for u in updates:
            assert u.get("node_id") or u.get("order") is not None
    # finalization once, after all chunks (:206-209, :322-328)
    assert calls.added_dimensions == ["inst"]
    assert calls.constraints == ["inst"]
    assert calls.completed == ["inst"]


# ---------------------------------------------------------------------------
# Spark algebraic identities on generated frames
# ---------------------------------------------------------------------------

keys = st.lists(st.integers(0, 20), min_size=0, max_size=30)


@given(keys, keys)
@settings(max_examples=8, deadline=None)
def test_semi_anti_partition(spark, left_keys, right_keys):
    """semi(L, R) ⊎ anti(L, R) == L for any L, R (the identity the
    graph store's anti-join and the importer's new/skipped split rely on)."""
    L = spark.createDataFrame([(k,) for k in left_keys] or [(None,)], "k int").filter(
        "k is not null"
    )
    R = spark.createDataFrame([(k,) for k in right_keys] or [(None,)], "k int").filter(
        "k is not null"
    )
    semi = L.join(R, "k", "left_semi").collect()
    anti = L.join(R, "k", "left_anti").collect()
    assert sorted([r.k for r in semi] + [r.k for r in anti]) == sorted(left_keys)
    right_set = set(right_keys)
    assert all(r.k in right_set for r in semi)
    assert all(r.k not in right_set for r in anti)


@given(keys)
@settings(max_examples=8, deadline=None)
def test_union_all_count_additivity(spark, ks):
    df = spark.createDataFrame([(k,) for k in ks] or [(None,)], "k int").filter(
        "k is not null"
    )
    assert df.unionByName(df).count() == 2 * len(ks)
    assert df.unionByName(df).distinct().count() == len(set(ks))


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(
            lambda p: p[0] != p[1]
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=8, deadline=None)
def test_star_contraction_components_property(spark, pairs):
    """Property: on ANY undirected pair graph, large-star/small-star
    contraction labels every node with the minimum id of its component
    (reference: driver-side union-find)."""
    from dp_dimension_importer_spark.operators.dedup import (
        _components_star_contraction,
    )

    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}

    df = spark.createDataFrame(pairs, "da long, db long")
    got = {r.node: r.comp for r in _components_star_contraction(df).collect()}
    assert got == want


# ---------------------------------------------------------------------------
# quality-score cores: structural invariants on arbitrary corpora
# ---------------------------------------------------------------------------

word = st.text(
    alphabet=st.characters(whitelist_categories=("Ll",)), min_size=1, max_size=5
)
doc_text = st.lists(word, min_size=1, max_size=30).map(" ".join)


@settings(max_examples=6, deadline=None)
@given(st.lists(doc_text, min_size=1, max_size=6))
def test_repetition_metrics_invariants(spark, texts):
    """For every doc: counts re-add (n_tokens = token count), shares are
    valid probabilities, top share ≥ 1/n_distinct ≥ distinct_ratio·top
    bound, and the flag is exactly share > threshold."""
    from dp_dimension_importer_spark import engine

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, body string"
    )
    rows = engine.repetition_metrics(df, id_col="id", text_col="body").collect()
    assert len(rows) == len(texts)
    for r in rows:
        toks = texts[r.doc_id].split()
        assert r.n_tokens == len(toks)
        n_distinct = len(set(toks))
        assert 0 < r.distinct_ratio <= 1
        assert 0 < r.top_token_share <= 1
        # max count ≥ ceil(n/k): top share is at least 1/n_distinct
        assert r.top_token_share >= round(1 / n_distinct, 4) - 1e-9
        assert r.flagged == (
            max(toks.count(w) for w in set(toks)) / len(toks) > 0.12
        )


@settings(max_examples=6, deadline=None)
@given(st.lists(doc_text, min_size=1, max_size=6))
def test_unigram_logprob_invariants(spark, texts):
    """Log-probs are ≤ 0 (no token is more frequent than the corpus), = 0
    only for a single-token-vocabulary corpus, and every doc scores."""
    from dp_dimension_importer_spark import engine

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, body string"
    )
    rows = engine.unigram_logprob(df, id_col="id", text_col="body").collect()
    assert len(rows) == len(texts)
    vocab = {w for t in texts for w in t.split()}
    for r in rows:
        assert r.avg_logprob <= 1e-9
        if len(vocab) == 1:
            assert abs(r.avg_logprob) <= 1e-9


@given(
    st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=1,
        max_size=40,
    ),
    st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=1,
        max_size=40,
    ),
)
@settings(max_examples=6, deadline=None)
def test_bloom_positions_jvm_equals_numpy(spark, h1s, h2s):
    """THE bloom-router safety invariant: the JVM build-side probe
    positions (pmod expressions) and the numpy probe-side positions must
    agree for arbitrary int64 hash pairs — any divergence manifests as a
    false NEGATIVE, i.e. silently dropped duplicates. Exercises negative
    hashes and the full 64-bit range."""
    import numpy as np
    from pyspark.sql import functions as F

    from dp_dimension_importer_spark.operators.dedup import (
        BLOOM_K,
        BLOOM_M_BITS,
        _bloom_positions,
    )

    n = min(len(h1s), len(h2s))
    pairs = list(zip(h1s[:n], h2s[:n]))
    df = spark.createDataFrame(pairs, "h1 long, h2 long")
    jvm = (
        df.select(
            F.array(
                *_bloom_positions(F.col("h1"), F.col("h2"), BLOOM_M_BITS, BLOOM_K)
            ).alias("pos")
        )
        .collect()
    )
    m = np.int64(BLOOM_M_BITS)
    for (h1, h2), row in zip(pairs, jvm):
        r1 = np.int64(h1) % m
        r2 = np.int64(h2) % m
        want = [int((r1 + np.int64(i) * r2) % m) for i in range(BLOOM_K)]
        assert row.pos == want, (h1, h2)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),      # user
            st.integers(min_value=0, max_value=40),     # offset units
        ),
        min_size=1,
        max_size=25,
    ),
    st.integers(min_value=1, max_value=8),              # gap in units
)
@settings(max_examples=8, deadline=None)
def test_sessionize_matches_bruteforce(spark, rows, gap_units):
    """sessionize == a python brute-force reference on arbitrary event
    sets: same session count per user, same per-session event counts and
    integer durations (unit = 1 000 ms so boundaries are exercised)."""
    from pyspark.sql import functions as F

    from dp_dimension_importer_spark.operators.analytics import sessionize

    UNIT = 1_000
    base = 1_700_000_000_000
    events = [
        (u, i + 1, base + off * UNIT) for i, (u, off) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        events, "user_id long, event_id long, ms long"
    ).select(
        "user_id", "event_id", F.timestamp_millis(F.col("ms")).alias("ts")
    )
    got = {
        (r.user_id, r.session_n): (r.n_events, r.duration_ms)
        for r in sessionize(df, gap_ms=gap_units * UNIT).collect()
    }

    ref: dict[tuple[int, int], tuple[int, int]] = {}
    by_user: dict[int, list[tuple[int, int]]] = {}
    for u, eid, ms in events:
        by_user.setdefault(u, []).append((ms, eid))
    for u, evs in by_user.items():
        evs.sort()
        sess, start, prev, count = 0, None, None, 0
        for ms, _eid in evs:
            if prev is None or ms - prev > gap_units * UNIT:
                if sess:
                    ref[(u, sess)] = (count, prev - start)
                sess += 1
                start, count = ms, 0
            count += 1
            prev = ms
        ref[(u, sess)] = (count, prev - start)
    assert got == ref


@given(
    st.integers(min_value=2, max_value=8),
    st.lists(st.integers(min_value=0, max_value=255), max_size=600),
)
@settings(max_examples=60, deadline=None)
def test_gif_lzw_roundtrip(min_code, seq):
    """GIF-LZW encode→decode is the identity for any index stream whose
    symbols fit the alphabet — across code widths, dictionary growth, and
    the empty stream."""
    from dp_dimension_importer_spark.operators.multimodal import (
        _lzw_decode,
        _lzw_encode,
    )

    seq = [s % (1 << min_code) for s in seq]
    assert _lzw_decode(_lzw_encode(seq, min_code), min_code) == seq


@given(
    st.binary(max_size=400),
    st.sampled_from([8000, 16000, 44100]),
    st.integers(min_value=1, max_value=2),
    st.sampled_from([8, 16]),
)
@settings(max_examples=60, deadline=None)
def test_wav_roundtrip(pcm, rate, channels, bits):
    """encode_wav -> decode_audio is the identity on the data chunk for
    any PCM payload/rate/layout; frame count floors to whole frames."""
    from dp_dimension_importer_spark.operators.multimodal import (
        decode_audio,
        encode_wav,
    )

    a = decode_audio(encode_wav(pcm, sample_rate=rate, channels=channels, bits=bits))
    assert a["sample_rate"] == rate
    assert a["channels"] == channels and a["bits"] == bits
    assert a["data"] == pcm
    assert a["n_frames"] == len(pcm) // (channels * bits // 8)


# ---------------------------------------------------------------------------
# Round-5 session cores: merge_agg_state associativity, quarantine law
# ---------------------------------------------------------------------------


@settings(max_examples=6, deadline=None)
@given(
    vals=st.lists(
        st.tuples(st.integers(0, 3), st.integers(-1000, 1000)),
        min_size=0, max_size=40,
    ),
    cut1=st.integers(0, 40),
    cut2=st.integers(0, 40),
)
def test_merge_agg_state_associative_and_equals_one_shot(
    spark, vals, cut1, cut2
):
    """merge(merge(a,b),c) == merge(a,merge(b,c)) == one-shot partial of
    the concatenation, for any 3-way split of any input — the algebraic
    contract incremental MV refresh rests on."""
    from pyspark.sql import functions as F

    from dp_dimension_importer_spark.operators.aggregates import (
        merge_agg_state,
    )

    lo, hi = sorted((cut1, cut2))
    parts = [vals[:lo], vals[lo:hi], vals[hi:]]

    def partial(rows):
        df = spark.createDataFrame(rows or [(None, None)], "k int, v int")
        df = df.filter(F.col("k").isNotNull())
        return df.groupBy("k").agg(
            F.sum("v").alias("sum_v"),
            F.count(F.lit(1)).alias("cnt_v"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
        )

    a, b, c = (partial(p) for p in parts)
    left = merge_agg_state(merge_agg_state(a, b, ["k"]), c, ["k"])
    right = merge_agg_state(a, merge_agg_state(b, c, ["k"]), ["k"])
    oneshot = partial(vals)
    rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert rows(left) == rows(right) == rows(oneshot)


@settings(max_examples=6, deadline=None)
@given(
    vals=st.lists(
        st.one_of(st.none(), st.integers(-20, 20)), min_size=0, max_size=30
    ),
    bound=st.integers(-20, 20),
)
def test_quarantine_is_a_partition_for_any_predicate(spark, vals, bound):
    """valid ∪ invalid == input, valid ∩ invalid == ∅, and every invalid
    row's `violated` list is exactly its failed expectations — for
    arbitrary data (nulls included) and an arbitrary threshold."""
    from pyspark.sql import functions as F

    from dp_dimension_importer_spark.operators.dataquality import quarantine

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)] or [(None, None)],
        "id int, v int",
    ).filter(F.col("id").isNotNull())
    valid, invalid = quarantine(
        df,
        {
            "v_nonnull": F.col("v").isNotNull(),
            "v_ge": F.col("v") >= bound,
        },
    )
    vrows = {r.id for r in valid.collect()}
    irows = {r.id: list(r.violated) for r in invalid.collect()}
    assert vrows | set(irows) == {i for i, _ in enumerate(vals)}
    assert vrows.isdisjoint(irows)
    for i, v in enumerate(vals):
        want = []
        if v is None:
            want = ["v_nonnull", "v_ge"]
        elif v < bound:
            want = ["v_ge"]
        if want:
            assert irows[i] == want, (i, v)
        else:
            assert i in vrows


@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=25,
    )
)
@settings(max_examples=6, deadline=None)
def test_shortest_paths_matches_python_bfs(spark, edges):
    """Property: on ANY directed edge list, the frontier-loop
    shortest_paths returns exactly the Python-BFS distance map from the
    source (node 0 forced present so the source always exists) — first
    discovery level IS the minimum distance, across arbitrary cycles,
    self-loops, and disconnected pieces."""
    from collections import deque

    from dp_dimension_importer_spark.operators.analytics import shortest_paths

    edges = [(0, 0)] + edges  # source node always present
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    want, dq = {0: 0}, deque([0])
    while dq:
        u = dq.popleft()
        for v in sorted(adj.get(u, ())):
            if v not in want:
                want[v] = want[u] + 1
                dq.append(v)

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.hops for r in shortest_paths(df, 0).collect()}
    assert got == want


@given(
    st.lists(
        st.one_of(
            st.tuples(st.just("overwrite"), st.integers(0, 50)),
            st.tuples(st.just("append"), st.integers(0, 50)),
            st.tuples(st.just("delete"), st.integers(0, 60)),
            st.tuples(st.just("delete_dv"), st.integers(0, 60)),
            st.tuples(st.just("restore"), st.integers(0, 10)),
            st.tuples(st.just("optimize"), st.integers(0, 0)),
            st.tuples(st.just("vacuum"), st.integers(1, 3)),
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(max_examples=5, deadline=None)
def test_snapshot_layer_model_equivalence(spark, ops):
    """Model-based check of the table-format verb set: apply a random
    sequence of overwrite / append / delete / restore / optimize /
    vacuum against BOTH the snapshot layer and an in-memory
    list-of-versions model; after every
    step the latest read equals the model, and at the end EVERY retained
    version time-travels to its model state. This is the armor for verb
    interactions no single-verb test exercises (delete after append,
    restore across a delete, append after restore, a COW delete
    materializing an earlier DV delete, optimize folding vectors...)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from dp_dimension_importer_spark import storage

    base = tempfile.mkdtemp(prefix="snap_model_")
    path = base + "/tbl"
    model: list[list[int]] = []  # model[v-1] = sorted row keys of version v

    def mk(seed, n=8):
        # deterministic small frames: keys seed..seed+n-1
        rows = [(seed + i,) for i in range(n)]
        return spark.createDataFrame(rows, "k long"), [r[0] for r in rows]

    try:
        for verb, arg in ops:
            if verb == "overwrite" or (verb != "overwrite" and not model):
                df, keys = mk(arg)
                storage.write_snapshot(spark, df, path)
                model.append(sorted(keys))
            elif verb == "append":
                df, keys = mk(arg)
                storage.write_snapshot(spark, df, path, mode="append")
                model.append(sorted(model[-1] + keys))
            elif verb in ("delete", "delete_dv"):
                res = storage.delete_where_snapshot(
                    spark,
                    path,
                    F.col("k") < arg,
                    mode="dv" if verb == "delete_dv" else "cow",
                )
                survivors = [k for k in model[-1] if k >= arg]
                if res["rows_deleted"] == 0:
                    assert survivors == model[-1]
                else:
                    if verb == "delete_dv":
                        assert res["files_rewritten"] == 0
                    model.append(survivors)
            elif verb == "restore":
                versions = storage.snapshot_versions(path)
                v = versions[arg % len(versions)]
                storage.restore_snapshot(path, v)
                model.append(model[v - 1])
            elif verb == "optimize":
                storage.optimize_snapshot(spark, path, ["k"], n_shards=2)
                model.append(model[-1])  # layout-only: same rows
            elif verb == "vacuum":
                keep = min(arg, len(model))
                storage.vacuum_snapshots(path, keep_last=keep)
                # expired versions are gone; model marks them unreadable
                for v in range(len(model) - keep):
                    model[v] = None
            got = sorted(
                r.k for r in storage.read_snapshot(spark, path).collect()
            )
            assert got == model[-1], (verb, arg, got, model[-1])
        assert storage.snapshot_versions(path) == [
            v for v, m in enumerate(model, start=1) if m is not None
        ]
        for v, expect in enumerate(model, start=1):
            if expect is None:  # vacuumed: time travel must fail loud
                try:
                    storage.read_snapshot(spark, path, version=v)
                    raise AssertionError(f"expected v{v} expired")
                except FileNotFoundError:
                    continue
            got = sorted(
                r.k
                for r in storage.read_snapshot(spark, path, version=v).collect()
            )
            assert got == expect, (v, got, expect)
    finally:
        shutil.rmtree(base, ignore_errors=True)


@given(
    st.lists(
        st.one_of(
            st.tuples(st.just("overwrite"), st.integers(0, 30)),
            st.tuples(st.just("upsert"), st.integers(0, 30)),
            st.tuples(st.just("upsert_empty"), st.integers(0, 0)),
            st.tuples(st.just("minor"), st.integers(0, 0)),
            st.tuples(st.just("major"), st.integers(0, 0)),
            st.tuples(st.just("delete"), st.integers(0, 40)),
            st.tuples(st.just("update"), st.integers(0, 40)),
            st.tuples(st.just("merge"), st.integers(0, 40)),
            st.tuples(st.just("restore"), st.integers(0, 10)),
            st.tuples(st.just("vacuum"), st.integers(1, 3)),
        ),
        min_size=1,
        max_size=7,
    )
)
@settings(max_examples=5, deadline=None)
def test_mor_layer_model_equivalence(spark, ops):
    """Model-based check of the MERGE-ON-READ verb set (r9 twin of the
    snapshot model above, covering the verbs that model skips): random
    sequences of overwrite / delta-upsert (overlapping keys, latest
    commit must win) / empty-upsert-with-txn / minor / major compaction /
    COW delete (must REFUSE on a MOR table) / restore / vacuum, applied
    to both the storage layer and a per-version {key: value} model that
    also tracks chain length (predicting exactly when minor/major
    commit vs no-op). After every step the resolved read AND a
    stats-pruned key-window read equal the model; at the end every
    retained version time-travels to its model state — so chain
    resolution, fold-equivalence, restore-of-a-chain, and vacuum's
    live-chain retention hold under arbitrary interleavings."""
    import shutil
    import tempfile

    import pytest
    from pyspark.sql import functions as F

    from dp_dimension_importer_spark import storage

    base = tempfile.mkdtemp(prefix="mor_model_")
    path = base + "/tbl"
    # model[v-1] = (state {k: v}, n_delta_groups, has_mor) | None (vacuumed)
    model: list = []

    def mk(seed, opidx, n=8):
        rows = [
            (seed + i, (seed + i) * 1000 + opidx, opidx) for i in range(n)
        ]
        df = spark.createDataFrame(rows, "k long, v long, seq long")
        return df, {k: v for k, v, _ in rows}

    try:
        for opidx, (verb, arg) in enumerate(ops):
            if verb == "overwrite" or not model:
                df, st_new = mk(arg, opidx)
                storage.write_snapshot(
                    spark, df.repartitionByRange(2, "k"), path,
                    stats_cols=["k"],
                )
                model.append((st_new, 0, False))
            elif verb == "upsert":
                df, ch = mk(arg, opidx)
                state, chain, _ = model[-1]
                v = storage.upsert_delta_snapshot(
                    spark, path, df.repartitionByRange(2, "k"),
                    ["k"], "seq",
                )
                assert v == len(model) + 1
                model.append(({**state, **ch}, chain + 1, True))
            elif verb == "upsert_empty":
                empty = spark.createDataFrame([], "k long, v long, seq long")
                state, chain, mor = model[-1]
                v = storage.upsert_delta_snapshot(
                    spark, path, empty, ["k"], "seq", txn=("m", opidx)
                )
                # txn watermark advances via a commit that adds NO group
                assert v == len(model) + 1
                model.append((dict(state), chain, mor))
            elif verb == "minor":
                state, chain, mor = model[-1]
                v = storage.compact_mor(spark, path, minor=True)
                if mor and chain > 1:
                    assert v == len(model) + 1, "minor should have committed"
                    model.append((dict(state), 1, True))
                else:
                    assert v == len(model), "minor should have no-opped"
            elif verb == "major":
                state, chain, mor = model[-1]
                v = storage.compact_mor(spark, path)
                if mor:
                    assert v == len(model) + 1, "major should have committed"
                    model.append((dict(state), 0, False))
                else:
                    assert v == len(model), "major should have no-opped"
            elif verb == "delete":
                state, chain, mor = model[-1]
                res = storage.delete_where_snapshot(
                    spark, path, F.col("k") < arg
                )
                surv = {k: v for k, v in state.items() if k >= arg}
                if res["rows_deleted"] > 0:
                    assert res["version"] == len(model) + 1
                    assert res["files_rewritten"] == 0 or not mor
                    # r13: on a MOR table the delete is a tombstone
                    # delta group — the chain GROWS by one
                    model.append(
                        (surv, chain + 1, True) if mor
                        else (surv, 0, False)
                    )
                else:
                    assert surv == state  # no match -> no commit
            elif verb == "update":
                # r13: UPDATE on MOR lands an image delta group (chain
                # +1 when matched); on a plain table it rewrites files
                state, chain, mor = model[-1]
                res = storage.update_where_snapshot(
                    spark, path, {"v": F.col("v") + 1}, F.col("k") < arg
                )
                touched = {k for k in state if k < arg}
                if touched:
                    assert res["version"] == len(model) + 1
                    assert res["rows_updated"] == len(touched)
                    assert res["files_rewritten"] == 0 or not mor
                    st2 = {
                        k: (v + 1 if k < arg else v)
                        for k, v in state.items()
                    }
                    model.append(
                        (st2, chain + 1, True) if mor
                        else (st2, 0, False)
                    )
                else:
                    assert res["rows_updated"] == 0
            elif verb == "merge":
                # r13: MERGE INTO on MOR lands ONE group (updates the
                # even keys below arg, inserts one new high key)
                state, chain, mor = model[-1]
                srows = [
                    (k, -1, 900 + opidx) for k in sorted(state)
                    if k < arg and k % 2 == 0
                ] + [(7000 + opidx, -2, 900 + opidx)]
                src = spark.createDataFrame(
                    srows, "k long, v long, seq long"
                )
                v = storage.merge_into_snapshot(
                    spark, path, src, ["k"],
                    update_set={"v": "src_v"}, insert=True,
                )
                assert v == len(model) + 1
                st2 = dict(state)
                for k, nv, _ in srows[:-1]:
                    st2[k] = nv
                st2[7000 + opidx] = -2
                model.append(
                    (st2, chain + 1, True) if mor else (st2, 0, False)
                )
            elif verb == "restore":
                versions = storage.snapshot_versions(path)
                v = versions[arg % len(versions)]
                got_v = storage.restore_snapshot(path, v)
                assert got_v == len(model) + 1
                state, chain, mor = model[v - 1]
                model.append((dict(state), chain, mor))
            elif verb == "vacuum":
                live = [i for i, m in enumerate(model) if m is not None]
                keep = min(arg, len(live))
                storage.vacuum_snapshots(path, keep_last=keep)
                for i in live[: len(live) - keep]:
                    model[i] = None
            state = model[-1][0]
            rows = storage.read_snapshot(spark, path).collect()
            assert len(rows) == len(state), (verb, arg)
            assert {r.k: r.v for r in rows} == state, (verb, arg)
            # pruning == filtering under EVERY verb interleaving (the MOR
            # key-column skipping path when a chain exists, the plain
            # stats path otherwise)
            lo = arg
            pr = storage.read_snapshot_pruned(
                spark, path, "k", lo, lo + 10
            ).collect()
            assert {r.k: r.v for r in pr} == {
                k: v for k, v in state.items() if lo <= k <= lo + 10
            }, (verb, arg)
        assert storage.snapshot_versions(path) == [
            v for v, m in enumerate(model, start=1) if m is not None
        ]
        for v, entry in enumerate(model, start=1):
            if entry is None:
                with pytest.raises(FileNotFoundError):
                    storage.read_snapshot(spark, path, version=v)
                continue
            got = {
                r.k: r.v
                for r in storage.read_snapshot(
                    spark, path, version=v
                ).collect()
            }
            assert got == entry[0], (v, got, entry[0])
    finally:
        shutil.rmtree(base, ignore_errors=True)


@given(
    st.lists(
        st.one_of(
            st.tuples(st.just("pwrite"), st.integers(0, 40)),
            st.tuples(st.just("pappend"), st.integers(0, 40)),
            st.tuples(st.just("evolve"), st.integers(0, 0)),
            st.tuples(st.just("delete"), st.integers(0, 50)),
            st.tuples(st.just("delete_dv"), st.integers(0, 50)),
            st.tuples(st.just("optimize"), st.integers(1, 4)),
            st.tuples(st.just("compact"), st.integers(0, 0)),
            st.tuples(st.just("vacuum"), st.integers(1, 2)),
            st.tuples(st.just("update"), st.integers(0, 50)),
            st.tuples(st.just("flat_append"), st.integers(50, 90)),
        ),
        min_size=2,
        max_size=6,
    )
)
@settings(max_examples=5, deadline=None)
def test_partitioned_layer_model_equivalence(spark, ops):
    """Model-based check of the r11 hidden-partitioning verb set: a
    random sequence of partitioned overwrite/append, spec evolution,
    DV/COW deletes, partition-scoped OPTIMIZE and small-file compaction
    runs against BOTH the layer and an in-memory key-set model. After
    every step the latest read equals the model AND a fixed partitioned
    predicate read equals the model's own filter — so pruning can never
    drop or duplicate a row no matter which verbs interleaved (the
    single-verb tests can't see, e.g., optimize after evolve after a
    COW delete that nulled a tuple)."""
    import datetime
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from dp_dimension_importer_spark import storage

    D = datetime.datetime
    SPEC_A = [("days", "ts")]
    SPEC_B = [("identity", "typ")]
    base = tempfile.mkdtemp(prefix="part_model_")
    path = base + "/tbl"
    model: list[int] = []  # multiset of keys at the latest version
    cur_spec = SPEC_A

    def day(k):
        return 1 + k % 4

    def typ(k):
        return "ab"[k % 2]

    def frame(keys):
        rows = [(k, D(2024, 3, day(k), k % 24), typ(k)) for k in keys]
        return spark.createDataFrame(rows, "k long, ts timestamp, typ string")

    def check():
        got = sorted(r["k"] for r in storage.read_snapshot(spark, path).collect())
        assert got == sorted(model)
        where = {
            "ts": ("between", D(2024, 3, 2), D(2024, 3, 3, 23, 59)),
            "typ": ("=", "a"),
        }
        got_p = sorted(
            r["k"]
            for r in storage.read_snapshot_partitioned(
                spark, path, where
            ).collect()
        )
        want_p = sorted(
            k for k in model if day(k) in (2, 3) and typ(k) == "a"
        )
        assert got_p == want_p, (got_p, want_p)

    try:
        for verb, arg in ops:
            if verb == "pwrite" or not model and verb in ("pappend",):
                keys = list(range(arg, arg + 8))
                storage.write_snapshot_partitioned(
                    spark, frame(keys), path, cur_spec
                )
                model = sorted(keys)
            elif verb == "pappend":
                keys = list(range(arg, arg + 8))
                storage.write_snapshot_partitioned(
                    spark, frame(keys), path, cur_spec, mode="append"
                )
                model = sorted(model + keys)
            elif not model and not storage.snapshot_versions(path):
                continue  # table doesn't exist yet: verbs below need one
            elif verb == "evolve":
                cur_spec = SPEC_B if cur_spec == SPEC_A else SPEC_A
                storage.evolve_partition_spec(path, cur_spec)
            elif verb in ("delete", "delete_dv"):
                storage.delete_where_snapshot(
                    spark, path, F.col("k") < arg,
                    mode="dv" if verb == "delete_dv" else "cow",
                )
                model = [k for k in model if k >= arg]
            elif verb == "optimize":
                storage.optimize_partitions(
                    spark, path,
                    {"ts": ("between", D(2024, 3, 1),
                            D(2024, 3, arg, 23, 59))},
                )
            elif verb == "compact":
                storage.compact_small_files_snapshot(
                    spark, path, min_file_bytes=1 << 30
                )
            elif verb == "vacuum":
                storage.vacuum_snapshots(path, keep_last=arg)
            elif verb == "update":
                # r12: COW UPDATE shifts keys — ts/typ stay, so the
                # rewrite re-derives tuples from the unchanged transform
                # columns and pruning must stay exact (the tuple-
                # preserving-DML invariant). +1000 ≡ 0 (mod 4) and
                # (mod 2), so the model's day(k)/typ(k) reconstruction
                # stays valid for shifted keys.
                storage.update_where_snapshot(
                    spark, path, {"k": F.col("k") + 1000},
                    F.col("k") < F.lit(arg),
                )
                model = [
                    (k + 1000 if k < arg else k) for k in model
                ]
            elif verb == "flat_append":
                # r12 (ADVICE r11): a PLAIN write_snapshot append onto
                # the partitioned table — carried files keep tuples, the
                # flat files get None (never pruned, never wrong)
                keys = list(range(arg, arg + 4))
                storage.write_snapshot(
                    spark, frame(keys), path, mode="append"
                )
                model = sorted(model + keys)
            if storage.snapshot_versions(path):
                check()
    finally:
        shutil.rmtree(base, ignore_errors=True)


@given(
    st.lists(
        st.one_of(
            st.tuples(st.just("append"), st.integers(0, 60)),
            st.tuples(st.just("rename"), st.integers(0, 0)),
            st.tuples(st.just("delete"), st.integers(0, 70)),
            st.tuples(st.just("update"), st.integers(0, 70)),
            st.tuples(st.just("merge"), st.integers(0, 70)),
            st.tuples(st.just("optimize"), st.integers(0, 0)),
            st.tuples(st.just("compact"), st.integers(0, 0)),
            st.tuples(st.just("materialize"), st.integers(0, 0)),
            st.tuples(st.just("widen"), st.integers(0, 0)),
        ),
        min_size=3,
        max_size=7,
    )
)
@settings(max_examples=5, deadline=None)
def test_mapped_dml_model_equivalence(spark, ops):
    """Model-based check of the r12 mapped-table DML surface: a random
    interleave of rename / COW delete / UPDATE / MERGE / optimize /
    compaction / materialize runs against BOTH the layer and an
    in-memory {key: value} model that tracks the CURRENT logical column
    name. After every step the latest read equals the model under the
    current names, and every data file on disk carries the ONE physical
    schema — the invariant no single-verb test can check across
    arbitrary interleavings."""
    import os
    import shutil
    import tempfile

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from dp_dimension_importer_spark import storage

    base = tempfile.mkdtemp(prefix="mapped_model_")
    path = base + "/tbl"
    model: dict[int, float] = {}
    names = ["val", "amount"]  # toggled by rename
    cur = 0
    ktype = ["int"]  # widened to bigint mid-sequence by the widen verb

    def frame(keys):
        return spark.createDataFrame(
            [(k, float(k)) for k in keys],
            f"k {ktype[0]}, {names[cur]} double",
        )

    def check():
        got = {
            r["k"]: r[names[cur]]
            for r in storage.read_snapshot(spark, path).collect()
        }
        assert got == model, (got, model)
        man = storage._load_manifest(
            path, storage.snapshot_versions(path)[-1]
        )
        mapping = man.get("column_mapping") or {}
        phys = mapping.get(names[cur], names[cur])
        for rel in man["files"]:
            cols = pq.ParquetFile(
                os.path.join(path, rel)
            ).schema_arrow.names
            assert cols == ["k", phys], (rel, cols, phys)

    try:
        for verb, arg in ops:
            exists = bool(storage.snapshot_versions(path))
            if verb == "append" or not exists:
                keys = [k for k in range(arg, arg + 6) if k not in model]
                if not keys:
                    continue
                if exists:
                    storage.write_snapshot(
                        spark, frame(keys), path, mode="append"
                    )
                else:
                    storage.write_snapshot(spark, frame(keys), path)
                model.update({k: float(k) for k in keys})
            elif verb == "rename":
                storage.rename_column(path, names[cur], names[1 - cur])
                cur = 1 - cur
            elif verb == "delete":
                storage.delete_where_snapshot(
                    spark, path, f"k >= {arg}"
                )
                model = {k: v for k, v in model.items() if k < arg}
            elif verb == "update":
                storage.update_where_snapshot(
                    spark, path,
                    {names[cur]: F.col(names[cur]) + 1000},
                    f"k < {arg}",
                )
                model = {
                    k: (v + 1000 if k < arg else v)
                    for k, v in model.items()
                }
            elif verb == "merge":
                src = spark.createDataFrame(
                    [(arg, -1.0), (arg + 1, -2.0)],
                    f"k bigint, {names[cur]} double",
                )
                storage.merge_into_snapshot(
                    spark, path, src, ["k"],
                    update_set={names[cur]: f"src_{names[cur]}"},
                    insert=True,
                )
                model[arg] = -1.0
                model[arg + 1] = -2.0
            elif verb == "optimize":
                storage.optimize_snapshot_incremental(
                    spark, path, [names[cur]], since_version=1
                )
            elif verb == "compact":
                storage.compact_small_files_snapshot(
                    spark, path, min_file_bytes=1 << 30
                )
            elif verb == "materialize":
                storage.materialize_column_mapping(spark, path)
                if ktype[0] == "bigint":
                    # the overwrite wrote bigint files and cleared the
                    # widened marker; appends keep speaking bigint
                    pass
            elif verb == "widen":
                if ktype[0] == "int":
                    storage.widen_column_type(path, "k", "bigint")
                    ktype[0] = "bigint"
            check()
    finally:
        shutil.rmtree(base, ignore_errors=True)
