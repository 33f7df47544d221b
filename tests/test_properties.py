"""Property-based invariants (hypothesis): randomized inputs against
the algebraic contracts the example-based tests pin down pointwise.

Each example builds ONE DataFrame and runs ONE action, so hypothesis
drives Spark at a usable cost; example counts are deliberately small
(the properties are exercised again every round at other seeds).
"""

from __future__ import annotations

import string

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from isilon_hadoop_tools_spark.functions.octal import from_octal, to_octal
from isilon_hadoop_tools_spark.operators import dedup
from isilon_hadoop_tools_spark.operators.allocate_ids import allocate_ids
from isilon_hadoop_tools_spark.operators.skew import salted_count

_SETTINGS = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_TEXT = st.text(alphabet=string.ascii_lowercase + " ", min_size=0, max_size=120)
_WORD = st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=6)


@_SETTINGS
@given(
    prefix_a=_TEXT,
    suffix_a=_TEXT,
    prefix_b=_TEXT,
    suffix_b=_TEXT,
    shared=st.text(alphabet=string.ascii_lowercase, min_size=11, max_size=40),
)
def test_winnow_guarantee_property(spark, prefix_a, suffix_a, prefix_b, suffix_b, shared):
    """Any two docs sharing a substring of length >= k + window - 1
    (= 11 at the defaults) share at least one winnowing fingerprint,
    regardless of what surrounds it."""
    rows = [(1, prefix_a + shared + suffix_a), (2, prefix_b + shared + suffix_b)]
    fps = dedup.winnow_fingerprints(
        spark.createDataFrame(rows, "doc_id LONG, text STRING"), "text", "doc_id"
    ).collect()
    by_doc: dict[int, set] = {1: set(), 2: set()}
    for r in fps:
        by_doc[r["id"]].add(r["fp"])
    assert by_doc[1] & by_doc[2]


@_SETTINGS
@given(
    names=st.lists(
        st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=8),
        min_size=1,
        max_size=25,
        unique=True,
    ),
    taken=st.lists(st.integers(min_value=1025, max_value=1100), max_size=20),
    start=st.integers(min_value=1025, max_value=1050),
)
def test_allocator_property(spark, names, taken, start):
    """Allocated IDs are unique, >= start, never collide with the
    taken set, and are exactly the |names| smallest free slots (the
    reference's linear-probe semantics, identities.py:126-149)."""
    names_df = spark.createDataFrame([(n,) for n in names], "name STRING")
    taken_df = spark.createDataFrame(
        [(i,) for i in taken] or [(None,)], "id LONG"
    ).filter(F.col("id").isNotNull())
    out = allocate_ids(names_df, "name", taken=taken_df, start=start, out_col="id")
    got = sorted(r["id"] for r in out.collect())
    free = (i for i in range(start, start + 1000) if i not in set(taken))
    expect = sorted(next(free) for _ in names)
    assert got == expect


@_SETTINGS
@given(modes=st.lists(st.integers(min_value=0, max_value=0o7777), min_size=1, max_size=50))
def test_octal_round_trip_property(spark, modes):
    df = spark.createDataFrame([(m,) for m in modes], "mode LONG")
    out = df.select(
        "mode", from_octal(to_octal("mode")).alias("back")
    ).collect()
    assert all(r["back"] == r["mode"] for r in out)


@_SETTINGS
@given(
    keys=st.lists(
        st.sampled_from(["a", "b", "c", "hot", "hot", "hot"]),
        min_size=1,
        max_size=60,
    )
)
def test_salted_count_equals_plain_count(spark, keys):
    df = spark.createDataFrame([(k,) for k in keys], "k STRING")
    plain = {r["k"]: r["count"] for r in df.groupBy("k").count().collect()}
    salted = {r["k"]: r["count"] for r in salted_count(df, "k", salt=4).collect()}
    assert salted == plain


@_SETTINGS
@given(
    prefix_a=st.lists(_WORD, min_size=0, max_size=8),
    prefix_b=st.lists(_WORD, min_size=0, max_size=8),
    shared=st.lists(_WORD, min_size=10, max_size=14),
)
def test_dup_spans_guarantee_property(spark, prefix_a, prefix_b, shared):
    """Any two docs sharing a run of >= n (=10) tokens must both get a
    duplicated-span row at the run's start position, regardless of
    what precedes it."""
    from isilon_hadoop_tools_spark.operators.corpus import dup_spans

    rows = [
        (1, " ".join(prefix_a + shared)),
        (2, " ".join(prefix_b + shared)),
    ]
    out = dup_spans(
        spark.createDataFrame(rows, "doc_id LONG, text STRING"),
        "text",
        "doc_id",
        n=10,
    )
    got = {(r["id"], r["pos"]) for r in out.collect()}
    assert (1, len(prefix_a)) in got
    assert (2, len(prefix_b)) in got


@_SETTINGS
@given(words=st.lists(_WORD, min_size=1, max_size=60))
def test_chunk_overlap_covers_every_token(spark, words):
    """Chunk windows at stride intervals must cover every token
    exactly: the union of [start, start+n_tokens) intervals equals
    [0, n), consecutive full chunks overlap by size - stride."""
    from isilon_hadoop_tools_spark.operators.corpus import chunk_overlap

    docs = spark.createDataFrame([(1, " ".join(words))], "doc_id LONG, text STRING")
    rows = sorted(
        chunk_overlap(docs, "text", "doc_id", size=16, stride=12).collect(),
        key=lambda r: r["start_tok"],
    )
    n = len(words)
    covered = set()
    for r in rows:
        assert 1 <= r["n_tokens"] <= 16
        covered.update(range(r["start_tok"], r["start_tok"] + r["n_tokens"]))
    assert covered == set(range(n))
    starts = [r["start_tok"] for r in rows]
    assert starts == list(range(0, n, 12))


@_SETTINGS
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),      # user
            st.integers(min_value=0, max_value=10_000), # minutes offset
        ),
        min_size=1,
        max_size=25,
    )
)
def test_sessionize_partitions_all_events(spark, events):
    """Sessions partition the event set: per-user n_events sums to the
    user's event count, and session time ranges never overlap within
    a user (start of session k+1 is strictly after end of session k)."""
    import datetime as dt

    from isilon_hadoop_tools_spark.operators.analytics import sessionize

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(minutes=m), u, 1.0)
        for i, (u, m) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    out = sessionize(df, gap_minutes=60).collect()
    per_user_total: dict[int, int] = {}
    for r in out:
        per_user_total[r.user_id] = per_user_total.get(r.user_id, 0) + r.n_events
    expect: dict[int, int] = {}
    for u, _ in events:
        expect[u] = expect.get(u, 0) + 1
    assert per_user_total == expect
    by_user: dict[int, list] = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r)
    for sess in by_user.values():
        sess.sort(key=lambda r: r.session_seq)
        for a, b in zip(sess, sess[1:]):
            assert b.session_start > a.session_end


@_SETTINGS
@given(
    ops=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),   # key
            st.sampled_from(["I", "U", "D"]),
            st.integers(min_value=0, max_value=99),  # value
        ),
        min_size=1,
        max_size=20,
    )
)
def test_cdc_apply_equals_sequential_replay(spark, ops):
    """The distributed max_by compaction equals a sequential replay of
    the log (driver-side reference implementation)."""
    import datetime as dt

    from isilon_hadoop_tools_spark.operators.analytics import cdc_apply

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(seconds=i), k, op, float(v))
        for i, (k, op, v) in enumerate(ops)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, k long, op string, value double"
    )
    got = {
        r.k: r.value
        for r in cdc_apply(df, "k", "ts", "event_id", "op", "D", ["value"]).collect()
    }
    state: dict[int, float] = {}
    for _, (k, op, v) in enumerate(ops):
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = float(v)
    # replay semantics differ from last-op-wins ONLY when a delete is
    # followed by nothing; both agree the key is absent. For keys whose
    # last op is I/U both give that op's value.
    assert got == state


@_SETTINGS
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),
            st.integers(min_value=0, max_value=4),
            st.integers(min_value=1, max_value=9),
        ),
        min_size=1,
        max_size=15,
    )
)
def test_pagerank_mass_conservation(spark, edges):
    """Total rank mass is exactly 1 on ANY input graph: the dangling
    term redistributes mass from vertices whose every out-edge was
    dropped by the closure."""
    from isilon_hadoop_tools_spark.operators.graph import pagerank

    df = spark.createDataFrame(
        [(s, d, float(w)) for s, d, w in edges], "src long, dst long, w double"
    )
    out = pagerank(df, "src", "dst", "w", iterations=3).collect()
    total = sum(r.pagerank for r in out)
    # per-vertex rounding to 10 dp bounds the drift
    assert abs(total - 1.0) < 1e-6


@_SETTINGS
@given(
    ivs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=100),
            st.integers(min_value=0, max_value=50),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_interval_union_matches_brute_force(spark, ivs):
    """Sweep-line union length == brute-force point coverage on random
    integer intervals (half-open [s, e) coverage counting matches the
    max(e)-min(s) island arithmetic)."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        interval_union_length,
    )

    rows = [(1, s, s + d) for s, d in ivs]
    df = spark.createDataFrame(rows, "k long, s long, e long")
    out = interval_union_length(df, "k", "s", "e").collect()[0]
    covered = set()
    for s, d in ivs:
        covered.update(range(s, s + d))
    assert out.union_len == len(covered)
    assert out.n_intervals == len(ivs)


@_SETTINGS
@given(
    vals=st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6,
            allow_nan=False, allow_infinity=False,
        ),
        min_size=12,
        max_size=200,
    )
)
def test_equidepth_histogram_partitions_all_rows(spark, vals):
    """Bucket counts sum to n, buckets are range-ordered, and no
    bucket is empty-by-construction beyond ties (every bucket id in
    0..b-1 appears when values are distinct enough)."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        equidepth_histogram,
    )

    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    out = sorted(
        equidepth_histogram(df, "v", 4).collect(), key=lambda r: r.bucket
    )
    assert sum(r.n for r in out) == len(vals)
    for a, b in zip(out, out[1:]):
        assert a.bucket < b.bucket and a.hi <= b.lo


@_SETTINGS
@given(
    indices=st.lists(
        st.integers(min_value=0, max_value=255), min_size=1, max_size=400
    ),
    min_code=st.integers(min_value=2, max_value=8),
)
def test_lzw_roundtrip_property(spark, indices, min_code):
    """GIF-variant LZW: any symbol sequence (symbols < 2^min_code)
    round-trips exactly through compress/decompress at any minimum
    code size — covers width growth, KwKwK runs, and repeated
    symbols the example tests only pin pointwise."""
    from isilon_hadoop_tools_spark.multimodal import (
        _lzw_compress,
        _lzw_decompress,
    )

    syms = [i % (1 << min_code) for i in indices]
    assert _lzw_decompress(_lzw_compress(syms, min_code), min_code) == syms


def _ref_greedy_merge(syms, left, right):
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


@_SETTINGS
@given(
    word=st.text(alphabet="ab", min_size=1, max_size=24),
    pair=st.sampled_from([("a", "a"), ("a", "b"), ("b", "a"), ("b", "b")]),
)
def test_bpe_merge_expr_matches_reference_greedy(spark, word, pair):
    """The F.aggregate merge equals the straightforward sequential
    greedy scan on arbitrary {a,b}* words for every pair — including
    self-pair runs where the non-overlap rule bites."""
    from isilon_hadoop_tools_spark.operators.corpus import _bpe_merge_expr

    df = spark.createDataFrame([(word,)], "w string")
    got = df.select(
        _bpe_merge_expr(F.split("w", ""), pair[0], pair[1]).alias("m")
    ).collect()[0]["m"]
    assert got == _ref_greedy_merge(list(word), pair[0], pair[1])


@_SETTINGS
@given(
    vals=st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=60
    ),
    zones=st.integers(min_value=1, max_value=6),
    lo=st.integers(min_value=-500, max_value=500),
    width=st.integers(min_value=0, max_value=400),
)
def test_zone_prune_report_matches_brute_force(spark, vals, zones, lo, width):
    """Zone-map skipping vs a brute-force recount on random data:
    scanned-zone row totals, matching counts, and the soundness
    certificate all agree with first principles."""
    from isilon_hadoop_tools_spark.operators.skew import zone_prune_report

    hi = lo + width
    rows = [(i, i % zones, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, z long, v double")
    r = zone_prune_report(df, "z", "v", float(lo), float(hi)).collect()[0]
    by_zone = {}
    for _, z, v in rows:
        by_zone.setdefault(z, []).append(v)
    scanned = {
        z for z, vs in by_zone.items() if max(vs) >= lo and min(vs) <= hi
    }
    assert r["n_zones"] == len(by_zone)
    assert r["zones_scanned"] == len(scanned)
    assert r["rows_scanned"] == sum(len(by_zone[z]) for z in scanned)
    assert r["rows_matching"] == sum(
        1 for _, _, v in rows if lo <= v <= hi
    )
    assert r["certificate_ok"]


@_SETTINGS
@given(
    counts=st.lists(
        st.integers(min_value=1, max_value=40), min_size=2, max_size=8
    )
)
def test_theil_sen_pure_trend_recovers_slope(spark, counts):
    """On consecutive days the pairwise-slope multiset is symmetric:
    feeding an exact arithmetic progression c_i = 5 + 3*i recovers
    slope 3 no matter the group size."""
    from isilon_hadoop_tools_spark.operators.analytics import (
        theil_sen_trend,
    )
    import datetime as dt

    n_days = len(counts)
    rows = []
    eid = 0
    for day in range(n_days):
        for _ in range(5 + 3 * day):
            rows.append(
                (eid, "g", dt.datetime(2024, 1, 1 + day, 12, 0))
            )
            eid += 1
    df = spark.createDataFrame(
        rows, "id long, event_type string, ts timestamp"
    )
    r = theil_sen_trend(df, "event_type", "ts").collect()[0]
    assert r["n_days"] == n_days
    assert r["ts_slope"] == 3.0


def _ref_lpa(edges, rounds):
    und = {}
    for a, b in edges:
        if a == b:
            continue
        und.setdefault(a, set()).add(b)
        und.setdefault(b, set()).add(a)
    labels = {v: v for v in und}
    for _ in range(rounds):
        nxt = {}
        for v in und:
            votes = {}
            for u in und[v]:
                votes[labels[u]] = votes.get(labels[u], 0) + 1
            votes[labels[v]] = votes.get(labels[v], 0) + 1  # self-vote
            best = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))
            nxt[v] = best[0]
        labels = nxt
    return labels


@_SETTINGS
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=15,
    ),
    rounds=st.integers(min_value=1, max_value=3),
)
def test_lpa_matches_reference_on_random_graphs(spark, edges, rounds):
    """Synchronous self-vote LPA equals a direct Python simulation on
    arbitrary small multigraphs (self-loops dropped, duplicates
    collapsed) for any round count."""
    from isilon_hadoop_tools_spark.operators.graph import label_propagation

    clean = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    if not clean:
        return
    df = spark.createDataFrame(sorted(clean), "id_a long, id_b long")
    got = {
        r["v"]: r["community"]
        for r in label_propagation(df, rounds=rounds).collect()
    }
    assert got == _ref_lpa(clean, rounds)


def _ref_ordered_funnel(rows, steps):
    # rows: (user, type, minute)
    users = {}
    for u, t, m in rows:
        users.setdefault(u, []).append((t, m))
    reach = [0] * len(steps)
    for evs in users.values():
        prev = None
        for i, step in enumerate(steps):
            cand = [
                m for t, m in evs
                if t == step and (prev is None or m > prev)
            ]
            if not cand:
                break
            prev = min(cand)
            reach[i] += 1
    return len(users), reach


@_SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),
            st.sampled_from(["view", "click", "purchase"]),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_ordered_funnel_matches_reference(spark, rows):
    """The chained-window funnel equals a per-user sequential greedy
    simulation on arbitrary event soups (duplicate timestamps, steps
    out of order, missing steps)."""
    import datetime as dt

    from isilon_hadoop_tools_spark.operators.analytics import ordered_funnel

    steps = ["view", "click", "purchase"]
    df = spark.createDataFrame(
        [
            (u, t, dt.datetime(2024, 1, 1, 12, 0) + dt.timedelta(minutes=m))
            for u, t, m in rows
        ],
        "user_id long, event_type string, ts timestamp",
    )
    r = ordered_funnel(df, "user_id", "event_type", "ts", steps).collect()[0]
    n_users, reach = _ref_ordered_funnel(rows, steps)
    assert r["n_users"] == n_users
    assert [r["n_step1"], r["n_step2"], r["n_step3"]] == reach


@_SETTINGS
@given(
    words=st.lists(_WORD, min_size=1, max_size=40),
)
def test_good_turing_mass_identity(spark, words):
    """Sum of r * n_r over the spectrum equals the total token count,
    and sum of n_r equals the vocabulary size — the two invariants
    any count-of-counts table must satisfy."""
    from isilon_hadoop_tools_spark.operators.corpus import good_turing_counts

    df = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    rows = good_turing_counts(df, "text", "doc_id").collect()
    assert sum(r["r"] * r["n_r"] for r in rows) == len(words)
    assert sum(r["n_r"] for r in rows) == len(set(words))


@_SETTINGS
@given(
    ka=st.lists(st.integers(min_value=0, max_value=20), min_size=1, max_size=40),
    kb=st.lists(st.integers(min_value=0, max_value=20), min_size=1, max_size=40),
)
def test_cms_join_size_never_undercounts(spark, ka, kb):
    """The hard-overestimate guarantee on arbitrary key multisets:
    est >= exact always, and the in-query certificate agrees."""
    from collections import Counter

    from isilon_hadoop_tools_spark.operators.sketches import (
        cms_join_size_estimate,
    )

    a = spark.createDataFrame([(k,) for k in ka], "k long")
    b = spark.createDataFrame([(k,) for k in kb], "k long")
    r = cms_join_size_estimate(a, "k", b, "k").collect()[0]
    ca, cb = Counter(ka), Counter(kb)
    exact = sum(ca[k] * cb[k] for k in ca)
    assert r["exact_pairs"] == exact
    assert r["est_pairs"] >= exact
    assert r["overestimate_ok"]


@_SETTINGS
@given(
    vals=st.lists(
        st.integers(min_value=-100, max_value=100), min_size=3, max_size=50
    )
)
def test_poisson_bootstrap_matches_hashlib_reference(spark, vals):
    """Every replicate weight is a pure function of (seed, id): a
    driver-side hashlib recomputation of all 20 replicate means must
    reproduce the engine's CI bounds exactly."""
    import hashlib

    from isilon_hadoop_tools_spark.operators.analytics import (
        poisson_bootstrap_ci,
        poisson_thresholds,
    )

    rows = [(i, "g", float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, grp string, v double")
    r = poisson_bootstrap_ci(df, "grp", "v", "id").collect()[0]
    ts = poisson_thresholds()
    means = []
    for b in range(20):
        ws = wx = 0
        for i, v in enumerate(vals):
            h = int(
                hashlib.md5(f"{7100 + b}:{i}".encode()).hexdigest()[:8], 16
            )
            w = sum(1 for t in ts if h >= t)
            ws += w
            wx += w * float(v)
        means.append(round(wx / ws, 6) if ws else None)
    present = sorted(m for m in means if m is not None)
    if len(present) == 20:
        assert r["ci_lo"] == present[1]
        assert r["ci_hi"] == present[18]
        assert r["ci_lo"] <= r["ci_hi"]
    else:
        # any empty replicate voids the interval entirely — never a
        # one-sided or order-dependent bound
        assert r["ci_lo"] is None and r["ci_hi"] is None


@_SETTINGS
@given(
    vals=st.lists(
        st.integers(min_value=-1000, max_value=1000),
        min_size=5,
        max_size=60,
    )
)
def test_trimmed_mean_matches_reference(spark, vals):
    """Spark percentile (linear interpolation) bounds + conditional
    mean equal a direct numpy-free reference on arbitrary ints."""
    from isilon_hadoop_tools_spark.operators.analytics import trimmed_mean

    rows = [(i, "g", float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, grp string, v double")
    r = trimmed_mean(df, "grp", "v", "id", trim=0.05).collect()[0]

    def pct(sorted_vals, p):
        n = len(sorted_vals)
        pos = p * (n - 1)
        lo_i = int(pos)
        frac = pos - lo_i
        hi_i = min(lo_i + 1, n - 1)
        return sorted_vals[lo_i] + frac * (
            sorted_vals[hi_i] - sorted_vals[lo_i]
        )

    s = sorted(float(v) for v in vals)
    lo, hi = pct(s, 0.05), pct(s, 0.95)
    kept = [v for v in s if lo <= v <= hi]
    assert r["n"] == len(vals)
    assert r["n_kept"] == len(kept)
    assert r["trimmed_mean"] == round(sum(kept) / len(kept), 6)


@_SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.integers(min_value=0, max_value=2),
        ),
        min_size=1,
        max_size=40,
    ),
    k=st.integers(min_value=2, max_value=6),
)
def test_k_anonymity_matches_brute_force(spark, rows, k):
    from collections import Counter

    from isilon_hadoop_tools_spark.operators.analytics import (
        k_anonymity_report,
    )

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(rows)],
        "id long, qa long, qb long",
    )
    r = k_anonymity_report(df, ["qa", "qb"], k=k).collect()[0]
    sizes = Counter(rows)
    assert r["n_rows"] == len(rows)
    assert r["n_groups"] == len(sizes)
    assert r["min_group_size"] == min(sizes.values())
    assert r["groups_below_k"] == sum(1 for n in sizes.values() if n < k)
    assert r["rows_below_k"] == sum(n for n in sizes.values() if n < k)
    assert r["k_anonymous"] == (min(sizes.values()) >= k)


@_SETTINGS
@given(
    na=st.integers(min_value=1, max_value=60),
    nb=st.integers(min_value=1, max_value=60),
    overlap=st.integers(min_value=0, max_value=30),
)
def test_hll_overlap_exact_fields_and_union_monotonicity(
    spark, na, nb, overlap
):
    """exact_a/b/inter equal set arithmetic on constructed overlaps,
    and the union estimate is never below either side's (register
    max-merge is monotone)."""
    from pyspark.sql import functions as F

    from isilon_hadoop_tools_spark.operators.sketches import (
        hll_intersection_estimate,
    )

    ov = min(overlap, na, nb)
    a_ids = list(range(na))
    b_ids = list(range(na - ov, na - ov + nb))
    rows = [(i, "a") for i in a_ids] + [(i, "b") for i in b_ids]
    df = spark.createDataFrame(rows, "uid long, tag string")
    r = hll_intersection_estimate(
        df, "uid", F.col("tag") == "a", F.col("tag") == "b",
        include_exact=True,
    ).collect()[0]
    assert r["exact_a"] == na and r["exact_b"] == nb
    assert r["exact_inter"] == len(set(a_ids) & set(b_ids))
    assert r["est_union"] >= r["est_a"] - 1e-9
    assert r["est_union"] >= r["est_b"] - 1e-9
    assert r["est_inter"] >= 0.0


@_SETTINGS
@given(
    vecs=st.lists(
        st.lists(
            st.integers(min_value=-50, max_value=50),
            min_size=8,
            max_size=8,
        ),
        min_size=2,
        max_size=6,
        unique_by=lambda v: tuple(v),
    )
)
def test_jl_distortion_matches_reference(spark, vecs):
    """Projected pair distances recomputed driver-side from the same
    md5 sign matrix match the engine exactly (both exact integers)."""
    from isilon_hadoop_tools_spark.operators.similarity import (
        _rademacher_sign,
        jl_distortion_eval,
    )

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        (r["id_a"], r["id_b"]): r
        for r in jl_distortion_eval(
            df, "embedding", "vec_id", n_queries=len(vecs),
            out_dim=4, in_dim=8,
        ).collect()
    }
    q = [[x * 1000 for x in v] for v in vecs]
    proj = [
        [
            sum(_rademacher_sign(j, i) * qv[i] for i in range(8))
            for j in range(4)
        ]
        for qv in q
    ]
    for a in range(len(vecs)):
        for b in range(a + 1, len(vecs)):
            r = out[(a, b)]
            d_in = sum((x - y) ** 2 for x, y in zip(q[a], q[b]))
            d_out = sum((x - y) ** 2 for x, y in zip(proj[a], proj[b]))
            assert r["d_in2"] == d_in
            assert r["d_out2"] == d_out
            if d_in:
                assert r["norm_ratio"] == round(d_out / (4 * d_in), 6)


@_SETTINGS
@given(
    docs=st.lists(
        st.lists(_WORD, min_size=4, max_size=12),
        min_size=2,
        max_size=6,
    )
)
def test_minhash_jaccard_eval_exact_side_matches_sets(spark, docs):
    """For every reported candidate pair the exact_jaccard equals the
    true 3-shingle set Jaccard computed in Python."""
    from isilon_hadoop_tools_spark.operators import dedup as D

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.minhash_jaccard_eval(
        df, "text", "doc_id", num_hashes=8, bands=4
    ).collect()

    def shingles(ws):
        return {
            " ".join(ws[i : i + 3]) for i in range(len(ws) - 2)
        }

    for r in out:
        sa, sb = shingles(docs[r["id_a"]]), shingles(docs[r["id_b"]])
        truth = len(sa & sb) / len(sa | sb)
        assert r["exact_jaccard"] == round(truth, 6)
        assert 0 <= r["n_agree"] <= 8


@_SETTINGS
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8),
            st.integers(min_value=0, max_value=8),
        ),
        min_size=1,
        max_size=18,
    ),
    k=st.integers(min_value=2, max_value=3),
)
def test_kcore_auto_matches_reference_peel(spark, edges, k):
    """kcore(rounds='auto') equals a sequential Python peel to the
    fixed point on arbitrary small graphs."""
    from isilon_hadoop_tools_spark.operators.graph import kcore

    clean = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    if not clean:
        return
    df = spark.createDataFrame(sorted(clean), "id_a long, id_b long")
    got = {
        r["v"]: r["core_degree"] for r in kcore(df, k=k, rounds="auto").collect()
    }
    e = set(clean)
    while True:
        deg = {}
        for a, b in e:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {v for v, d in deg.items() if d >= k}
        ne = {(a, b) for a, b in e if a in keep and b in keep}
        if ne == e:
            break
        e = ne
    deg = {}
    for a, b in e:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    assert got == deg


@_SETTINGS
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8),
            st.integers(min_value=0, max_value=8),
        ),
        min_size=1,
        max_size=18,
    )
)
def test_triangle_counts_match_brute_force(spark, edges):
    """Degree-oriented triangle enumeration equals the O(n^3) brute
    force per vertex on arbitrary small graphs."""
    from itertools import combinations

    from isilon_hadoop_tools_spark.operators.graph import triangle_counts

    clean = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    if not clean:
        return
    df = spark.createDataFrame(sorted(clean), "id_a long, id_b long")
    got = {
        r["v"]: r["n_triangles"] for r in triangle_counts(df).collect()
    }
    verts = sorted({v for e in clean for v in e})
    expect = {}
    for x, y, z in combinations(verts, 3):
        if (
            (x, y) in clean and (x, z) in clean and (y, z) in clean
        ):
            for v in (x, y, z):
                expect[v] = expect.get(v, 0) + 1
    assert got == expect


@_SETTINGS
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]),
            min_size=0,
            max_size=8,
        ),
        min_size=0,
        max_size=8,
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.6, 0.75, 0.9]),
    k=st.integers(min_value=1, max_value=3),
)
def test_prefix_jaccard_join_matches_bruteforce_property(
    spark, docs, threshold, k
):
    """The AllPairs/PPJoin prefix filter is EXACT by contract: across
    thresholds and shingle widths the output must equal a brute-force
    Jaccard over every pair of distinct-shingle sets — a dropped
    prefix token, a wrong ceil boundary, or an over-eager length
    filter all surface as a missing pair. Small-alphabet docs force
    heavy shingle sharing (the adversarial case for the filter)."""
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.prefix_filter_jaccard_pairs(
            df, "text", "id", k=k, threshold=threshold
        ).collect()
    }
    sets = {
        i: {
            " ".join(toks[j : j + k])
            for j in range(len(toks) - k + 1)
        }
        for i, toks in enumerate(docs)
    }
    want = {}
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            sa, sb = sets[ids[x]], sets[ids[y]]
            if not sa or not sb:
                continue
            j = len(sa & sb) / len(sa | sb)
            if j >= threshold:
                want[(ids[x], ids[y])] = round(j, 6)
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.large_base_example,
        HealthCheck.data_too_large,
    ],
)
@given(
    data=st.data(),
    n_vecs=st.integers(min_value=1, max_value=12),
)
def test_streaming_ivf_adversarial_splits_match_batch(spark, data, n_vecs):
    """Streaming IVF ingestion vs the batch assignment under
    ADVERSARIAL batch splits: hypothesis chooses the split points,
    re-offers arbitrary earlier vectors inside later batches
    (at-least-once delivery), and inserts empty batches — the final
    postings must still equal one batch kmeans_assign over the
    distinct vectors, with exactly one posting row per vector."""
    import tempfile

    from isilon_hadoop_tools_spark.operators.similarity import (
        kmeans_assign,
        kmeans_train,
        quantize_vectors,
    )
    from isilon_hadoop_tools_spark.plans.state import ParquetState
    from isilon_hadoop_tools_spark.streaming.neardup import (
        IVF_POSTINGS_SCHEMA,
        ivf_index_apply_batch,
    )

    vecs = [
        (
            vid,
            [
                float(data.draw(st.integers(min_value=-20, max_value=20)))
                for _ in range(2)
            ],
        )
        for vid in range(n_vecs)
    ]
    # adversarial split: each batch takes a prefix of the remaining
    # rows plus a hypothesis-chosen set of already-delivered rows
    batches = []
    pos = 0
    while pos < len(vecs):
        take = data.draw(st.integers(min_value=0, max_value=4))
        replay = (
            [vecs[i] for i in data.draw(
                st.sets(st.integers(min_value=0, max_value=pos - 1))
            )]
            if pos
            else []
        )
        batches.append(vecs[pos : pos + take] + replay)
        pos += take
    batch_df = spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>"
    )
    cents = kmeans_train(
        quantize_vectors(batch_df, "embedding", "vec_id"), k=2, iters=1
    )
    truth = {
        r["vid"]: (r["list_id"], r["dist"])
        for r in kmeans_assign(
            quantize_vectors(batch_df, "embedding", "vec_id"), cents
        ).collect()
    }
    state = ParquetState(spark, tempfile.mkdtemp(prefix="ivf_prop_"))
    for rows in batches:
        ivf_index_apply_batch(
            spark.createDataFrame(
                rows, "vec_id long, embedding array<float>"
            ),
            state,
            cents,
        )
    postings = state.read("ivf_postings", IVF_POSTINGS_SCHEMA).collect()
    got = {r["vid"]: (r["list_id"], r["dist"]) for r in postings}
    assert got == truth
    assert len(postings) == len(truth)


@_SETTINGS
@given(
    w=st.integers(min_value=1, max_value=5),
    h=st.integers(min_value=1, max_value=5),
    data=st.data(),
)
def test_gif_png_cross_codec_pixel_equivalence(w, h, data):
    """The two compression families share no machinery (LZW dictionary
    codes vs DEFLATE Huffman+LZ77): encoding the SAME random
    palette image through both writers and decoding through both
    readers must reproduce identical pixels — including all five PNG
    row filters chosen per row by hypothesis."""
    import numpy as np

    from isilon_hadoop_tools_spark import multimodal as M

    n_colors = data.draw(st.integers(min_value=1, max_value=8))
    palette = np.array(
        [
            [data.draw(st.integers(min_value=0, max_value=255)) for _ in range(3)]
            for _ in range(n_colors)
        ],
        dtype=np.uint8,
    )
    idx = np.array(
        [
            [data.draw(st.integers(min_value=0, max_value=n_colors - 1)) for _ in range(w)]
            for _ in range(h)
        ],
        dtype=np.int64,
    )
    pix = palette[idx]  # (h, w, 3) uint8
    filters = [
        data.draw(st.integers(min_value=0, max_value=4)) for _ in range(h)
    ]
    png_pix = M.png_decode_rgb(M.png_encode_rgb(pix, filters))
    gif_pix = M.gif_decode_rgb(M.gif_encode(idx, palette))
    assert (png_pix == pix).all()
    assert (gif_pix == pix).all()
    assert (png_pix == gif_pix).all()


@_SETTINGS
@given(
    word=st.text(alphabet="ab", min_size=1, max_size=10),
    data=st.data(),
)
def test_viterbi_segment_matches_enumeration_random_costs(spark, word, data):
    """The unigram-LM E-step kernel under ARBITRARY cost tables (not
    just trained ones): the JVM F.aggregate DP must pick the same
    (cost, boundary-mask)-minimal segmentation as brute-force
    enumeration — including adversarial ties from equal costs."""
    from isilon_hadoop_tools_spark.operators.corpus import _viterbi_segment
    from pyspark.sql import functions as F

    pieces = {"a", "b"}  # singles always present
    for l in (2, 3, 4):
        for j in range(len(word) - l + 1):
            if data.draw(st.booleans()):
                pieces.add(word[j:j + l])
    costs = {
        p: data.draw(st.integers(min_value=0, max_value=5)) * 1000
        for p in pieces
    }
    df = spark.createDataFrame([(word,)], "w string")
    got = df.select(
        _viterbi_segment(F.col("w"), costs, 4, 10**9).alias("pieces")
    ).collect()[0]["pieces"]

    best = None
    def rec(pos, cost, mask, segs):
        nonlocal best
        if pos == len(word):
            cand = (cost, mask, list(segs))
            if best is None or cand[:2] < best[:2]:
                best = cand
            return
        for l in range(1, min(4, len(word) - pos) + 1):
            piece = word[pos:pos + l]
            if piece in costs:
                segs.append(piece)
                rec(pos + l, cost + costs[piece], mask + (1 << pos), segs)
                segs.pop()

    rec(0, 0, 0, [])
    assert got == best[2]
    assert "".join(got) == word


@_SETTINGS
@given(
    data=st.data(),
    n=st.integers(min_value=2, max_value=10),
)
def test_tagged_band_pairs_equals_per_modality_union(spark, data, n):
    """Consistency law: the unified tagged band join must equal the
    union of independent per-modality hamming_band_pairs runs —
    random hashes, shared values across modalities. Both run the one
    shared band-join core, so the answer is also pinned to a
    brute-force all-pairs hamming reference over the same rows."""
    rows = []
    for m, (bits, max_h, bands) in (("x", (8, 1, 4)), ("y", (12, 2, 4))):
        for i in range(n):
            rows.append(
                (m, i, data.draw(st.integers(min_value=0, max_value=255)))
            )
    df = spark.createDataFrame(rows, "modality STRING, id LONG, fhash LONG")
    params = {"x": (8, 1, 4), "y": (12, 2, 4)}
    got = {
        (r["modality"], r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.tagged_hamming_band_pairs(df, params).collect()
    }
    want = {}
    for m, p in params.items():
        single = spark.createDataFrame(
            [(i, h) for mm, i, h in rows if mm == m], "id LONG, fhash LONG"
        )
        for r in dedup.hamming_band_pairs(
            single, "fhash", "id", bits=p[0], max_hamming=p[1], bands=p[2]
        ).collect():
            want[(m, r["id_a"], r["id_b"])] = r["hamming"]
    assert got == want
    brute = {}
    for m, (_bits, max_h, _bands) in params.items():
        hs = [(i, h) for mm, i, h in rows if mm == m]
        for i, hi in hs:
            for j, hj in hs:
                d = bin(hi ^ hj).count("1")
                if i < j and d <= max_h:
                    brute[(m, i, j)] = d
    assert got == brute


@_SETTINGS
@given(data=st.data(), n_words=st.integers(min_value=1, max_value=6))
def test_wordpiece_first_rule_matches_fraction_reference(
    spark, data, n_words
):
    """The quantized likelihood score's argmax must equal a
    driver-side reference using the same floor(p·1e9/(l·r)) integers
    — random small corpora force score collisions and the
    lexicographic tie-break."""
    from collections import Counter

    from isilon_hadoop_tools_spark.operators.corpus import wordpiece_train

    words = [
        data.draw(st.text(alphabet="abc", min_size=2, max_size=4))
        for _ in range(n_words)
    ]
    text = " ".join(words)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = wordpiece_train(df, "text", "doc_id", rounds=1).collect()
    wc = Counter(words)
    pair_cnt, sym_cnt = Counter(), Counter()
    for w, n in wc.items():
        for s in w:
            sym_cnt[s] += n
        for a, b in zip(w, w[1:]):
            pair_cnt[(a, b)] += n
    if not pair_cnt:
        assert got == []
        return
    scored = sorted(
        (
            -(p * 10**9 // (sym_cnt[l] * sym_cnt[r])),
            l,
            r,
        )
        for (l, r), p in pair_cnt.items()
    )
    sq, lhs, rhs = scored[0]
    r0 = got[0]
    assert (r0["lhs"], r0["rhs"], r0["score_q"]) == (lhs, rhs, -sq)
    assert r0["pair_count"] == pair_cnt[(lhs, rhs)]


@_SETTINGS
@given(
    counts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_cusum_matches_python_reference(spark, counts):
    """CUSUM argmax/direction vs a literal python replay of the
    integer statistic over random per-day counts (days with 0 events
    simply don't exist in the day table — both sides agree)."""
    import datetime as dt

    from isilon_hadoop_tools_spark.operators.analytics import (
        cusum_changepoint,
    )

    t0 = dt.datetime(2024, 3, 1)
    rows, eid = [], 0
    for day, (ca, _) in enumerate(counts):
        for _ in range(ca):
            rows.append((eid, "g", t0 + dt.timedelta(days=day)))
            eid += 1
    if not rows:
        return
    df = spark.createDataFrame(
        rows, "id long, event_type string, ts timestamp"
    )
    r = cusum_changepoint(df, "event_type", "ts").collect()[0]
    daily = [(d, c) for d, (c, _) in enumerate(counts) if c > 0]
    n = len(daily)
    tot = sum(c for _, c in daily)
    cum, best = 0, None
    for i, (d, c) in enumerate(daily, start=1):
        cum += c
        t = n * cum - i * tot
        key = (-abs(t), d)
        if best is None or key < best[0]:
            best = (key, d, t)
    _, cp_day, t = best
    assert r["n_days"] == n
    assert r["cp_day"] == t0 + dt.timedelta(days=cp_day)
    assert r["cusum_abs"] == round(abs(t) / n, 6)
    want_dir = "up" if t < 0 else ("down" if t > 0 else "none")
    assert r["direction"] == want_dir


@_SETTINGS
@given(
    vals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=99),
            st.booleans(),  # cohort
        ),
        min_size=1,
        max_size=40,
    )
)
def test_psi_matches_python_reference(spark, vals):
    """PSI terms/total vs a literal python replay of the add-one
    smoothed formula over random cohort assignments (identical
    rationals -> identical doubles -> identical math.log)."""
    import math

    from isilon_hadoop_tools_spark.operators.analytics import psi_drift

    breaks = [25, 50, 75]
    df = spark.createDataFrame(
        [(float(v), "b" if b else "c") for v, b in vals],
        "value double, cohort string",
    )
    out = {r["band"]: r for r in psi_drift(
        df, "value",
        in_base=F.col("cohort") == "b",
        in_cur=F.col("cohort") == "c",
        breaks=breaks,
    ).collect()}
    nb = [0] * 4
    nc = [0] * 4
    for v, is_b in vals:
        band = sum(1 for br in breaks if v >= br)
        (nb if is_b else nc)[band] += 1
    tb, tc = sum(nb), sum(nc)
    terms = []
    for i in range(4):
        p = (nb[i] + 1) / (tb + 4)
        q = (nc[i] + 1) / (tc + 4)
        terms.append((p - q) * math.log(p / q))
        r = out[i]
        assert (r["n_base"], r["n_cur"]) == (nb[i], nc[i])
        assert r["p_base"] == round(p, 6)
        assert r["p_cur"] == round(q, 6)
        assert r["psi_term"] == round(terms[i], 6)
    assert out[0]["psi_total"] == round(sum(terms), 6)


@_SETTINGS
@given(
    journey=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),             # user
            st.sampled_from(["view", "click", "purchase", "x"]),
            st.integers(min_value=0, max_value=3000),          # minutes
        ),
        min_size=1,
        max_size=25,
    )
)
def test_attribution_matches_replay_reference(spark, journey):
    """Last-touch attribution vs a per-user python replay over random
    journeys — including same-minute collisions resolved by the
    (ts, event_id) order both sides share."""
    import datetime as dt

    from isilon_hadoop_tools_spark.operators.analytics import (
        last_touch_attribution,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(minutes=m), u, typ, 1.0)
        for i, (u, typ, m) in enumerate(journey)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
        " event_type string, value double",
    )
    got = {
        r["channel"]: r["n_conversions"]
        for r in last_touch_attribution(
            df, "user_id", "ts", "event_id", "event_type", "value",
            touch_types=["view", "click"],
            conversion_type="purchase", lookback_hours=24,
        ).collect()
    }
    want: dict[str, int] = {}
    by_user: dict[int, list] = {}
    for eid, ts, u, typ, _ in rows:
        by_user.setdefault(u, []).append((ts, eid, typ))
    for evs in by_user.values():
        evs.sort()
        last_touch = None
        for ts, _eid, typ in evs:
            if typ == "purchase":
                if (
                    last_touch is not None
                    and int(ts.timestamp()) - int(last_touch[0].timestamp())
                    <= 24 * 3600
                ):
                    ch = last_touch[1]
                else:
                    ch = "direct"
                want[ch] = want.get(ch, 0) + 1
            if typ in ("view", "click"):
                last_touch = (ts, typ)
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.large_base_example,
        HealthCheck.data_too_large,
    ],
)
@given(data=st.data(), n=st.integers(min_value=1, max_value=10))
def test_tagged_index_stream_matches_batch_under_adversarial_splits(
    spark, data, n
):
    """The unified streaming index vs the batch tagged band join under
    hypothesis-chosen splits, re-offered rows (at-least-once), and
    empty batches — the L16us twin of the IVF split test."""
    import tempfile

    from isilon_hadoop_tools_spark.plans.state import ParquetState
    from isilon_hadoop_tools_spark.streaming.neardup import (
        TAGGED_PAIRS_SCHEMA,
        tagged_index_apply_batch,
    )

    params = {"x": (8, 1, 4), "y": (8, 2, 4)}
    rows = [
        (
            data.draw(st.sampled_from(["x", "y"])),
            i,
            data.draw(st.integers(min_value=0, max_value=255)),
        )
        for i in range(n)
    ]
    batches, pos = [], 0
    while pos < len(rows):
        take = data.draw(st.integers(min_value=0, max_value=4))
        replay = (
            [rows[i] for i in data.draw(
                st.sets(st.integers(min_value=0, max_value=pos - 1))
            )]
            if pos
            else []
        )
        batches.append(rows[pos : pos + take] + replay)
        pos += take
    state = ParquetState(spark, tempfile.mkdtemp(prefix="tidx_prop_"))
    for b in batches:
        tagged_index_apply_batch(
            spark.createDataFrame(
                b, "modality STRING, id LONG, fhash LONG"
            ),
            state,
            params,
        )
    got = {
        (r["modality"], r["id_a"], r["id_b"]): r["hamming"]
        for r in state.read("tnear_pairs", TAGGED_PAIRS_SCHEMA).collect()
    }
    want = {
        (r["modality"], r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.tagged_hamming_band_pairs(
            spark.createDataFrame(
                rows, "modality STRING, id LONG, fhash LONG"
            ),
            params,
        ).collect()
    }
    assert got == want


@_SETTINGS
@given(
    zones=st.lists(
        st.lists(
            st.integers(min_value=0, max_value=10**9),
            min_size=1,
            max_size=6,
        ),
        min_size=1,
        max_size=6,
    ),
    data=st.data(),
)
def test_bloom_zone_certificate_never_false_negative(spark, zones, data):
    """Bloom skipping's defining invariant under random zones/keys:
    EVERY zone containing the probe is scanned (the certificate), the
    match count is exact, and min/max scanning is always a superset
    of the true containing zones too."""
    from isilon_hadoop_tools_spark.operators.skew import bloom_zone_report

    rows = [(z, k) for z, keys in enumerate(zones) for k in keys]
    all_keys = sorted({k for _, k in rows})
    probe = data.draw(
        st.one_of(
            st.sampled_from(all_keys),
            st.integers(min_value=0, max_value=10**9),
        )
    )
    df = spark.createDataFrame(rows, "zone long, skey long")
    r = bloom_zone_report(df, "zone", "skey", probe).collect()[0]
    true_zones = sum(1 for keys in zones if probe in keys)
    true_matches = sum(keys.count(probe) for keys in zones)
    assert r["rows_matching"] == true_matches
    assert r["certificate_ok"]
    assert r["zones_scanned_bloom"] >= true_zones
    assert r["zones_scanned_minmax"] >= true_zones
    assert r["n_zones"] == len(zones)


@_SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # quasi class
            st.sampled_from(["a", "b", "c"]),       # sensitive
        ),
        min_size=1,
        max_size=40,
    ),
    t=st.sampled_from([0.1, 0.3, 0.5]),
)
def test_t_closeness_matches_python_reference(spark, rows, t):
    from collections import Counter

    from isilon_hadoop_tools_spark.operators.analytics import (
        t_closeness_report,
    )

    df = spark.createDataFrame(
        [(i, q, s) for i, (q, s) in enumerate(rows)],
        "id long, qa long, s string",
    )
    r = t_closeness_report(df, ["qa"], "s", t=t).collect()[0]
    total = Counter(s for _, s in rows)
    n = len(rows)
    classes = {}
    for q, s in rows:
        classes.setdefault(q, Counter())[s] += 1
    ts = {}
    for q, cnt in classes.items():
        cn = sum(cnt.values())
        # 6-dp before comparing, mirroring the operator: the raw
        # float sum's last ulp is accumulation-order-dependent, so an
        # exact-boundary class (true statistic == t) would otherwise
        # flip sides between this reference and the engine
        ts[q] = round(
            0.5
            * (
                sum(abs(cnt[s] / cn - total[s] / n) for s in cnt)
                + 1.0
                - sum(total[s] / n for s in cnt)
            ),
            6,
        )
    assert r["n_groups"] == len(classes)
    assert r["max_t"] == round(max(ts.values()), 6)
    above = [q for q, v in ts.items() if v > t]
    assert r["groups_above_t"] == len(above)
    assert r["rows_above_t"] == sum(
        sum(classes[q].values()) for q in above
    )
    assert r["t_close"] == (not above)


@_SETTINGS
@given(
    journey=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),
            st.sampled_from(["view", "click", "purchase"]),
            st.integers(min_value=0, max_value=3000),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_attribution_models_conserve_credit(spark, journey):
    """Conservation law across ALL THREE attribution models:
    last-touch counts, linear credits, and time-decay credits each sum
    to the exact number of conversions, and every model's attributed
    value sums to total conversion value — per-channel allocations
    differ, totals never do."""
    import datetime as dt

    from isilon_hadoop_tools_spark.operators.analytics import (
        last_touch_attribution,
        linear_attribution,
        time_decay_attribution,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(minutes=m), u, typ, float(i % 7))
        for i, (u, typ, m) in enumerate(journey)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
        " event_type string, value double",
    )
    n_conv = sum(1 for _, typ, _ in journey if typ == "purchase")
    v_conv = sum(
        float(i % 7)
        for i, (_, typ, _) in enumerate(journey)
        if typ == "purchase"
    )
    args = dict(
        touch_types=["view", "click"],
        conversion_type="purchase",
        lookback_hours=24,
    )
    lt = last_touch_attribution(
        df, "user_id", "ts", "event_id", "event_type", "value", **args
    ).collect()
    ln = linear_attribution(
        df, "user_id", "ts", "event_id", "event_type", "value", **args
    ).collect()
    td = time_decay_attribution(
        df, "user_id", "ts", "event_id", "event_type", "value", **args
    ).collect()
    if n_conv == 0:
        assert lt == [] and ln == [] and td == []
        return
    assert sum(r["n_conversions"] for r in lt) == n_conv
    assert abs(sum(r["credit"] for r in ln) - n_conv) < 1e-6
    assert abs(sum(r["credit"] for r in td) - n_conv) < 1e-6
    assert abs(sum(r["attributed_value"] for r in lt) - v_conv) < 1e-6
    assert abs(sum(r["attributed_value"] for r in ln) - v_conv) < 1e-6
    assert abs(sum(r["attributed_value"] for r in td) - v_conv) < 1e-6


@_SETTINGS
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("abcde"), min_size=1, max_size=14
        ).map(lambda ts: " ".join(ts)),
        min_size=2,
        max_size=6,
    ),
    min_len=st.integers(min_value=2, max_value=4),
)
def test_suffix_dup_spans_matches_bruteforce_property(spark, docs, min_len):
    """Random tiny-alphabet corpora (heavy accidental repetition —
    the adversarial regime for suffix logic) vs a Python brute force
    over every (position, length) pair: spans, max lengths, and hit
    counts must all agree, at any min_len."""
    from isilon_hadoop_tools_spark.operators.corpus import suffix_dup_spans

    texts = {i + 1: t for i, t in enumerate(docs)}
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    toks = {k: v.split() for k, v in texts.items()}
    sufs = [(i, p) for i, t in toks.items() for p in range(len(t))]

    def dl(i, p):
        best = 0
        for j, q in sufs:
            if (j, q) == (i, p):
                continue
            n = 0
            while (
                p + n < len(toks[i])
                and q + n < len(toks[j])
                and toks[i][p + n] == toks[j][q + n]
            ):
                n += 1
            best = max(best, n)
        return best

    hits: dict[int, list] = {}
    for i, p in sufs:
        d = dl(i, p)
        if d >= min_len:
            hits.setdefault(i, []).append((p, p + d, d))
    expect = []
    for i, hh in sorted(hits.items()):
        hh.sort()
        cur = None
        for s, e, d in hh:
            if cur and s <= cur[1]:
                cur = (cur[0], max(cur[1], e), max(cur[2], d), cur[3] + 1)
            else:
                if cur:
                    expect.append((i,) + cur)
                cur = (s, e, d, 1)
        if cur:
            expect.append((i,) + cur)
    got = sorted(
        (r["id"], r["start_tok"], r["end_tok"], r["max_dup_len"],
         r["n_positions"])
        for r in suffix_dup_spans(df, "text", "doc_id", min_len).collect()
    )
    assert got == sorted(expect)


@_SETTINGS
@given(
    labels=st.lists(st.booleans(), min_size=4, max_size=10),
    extra=st.lists(_WORD, min_size=0, max_size=3),
)
def test_quality_gd_matches_python_reference(spark, labels, extra):
    """The integer GD must be bit-identical to a pure-Python replay of
    the same recipe (hash features, hard-sigmoid margins, integer
    gradients, trunc-division updates) on random corpora — the
    engine's aggregation order cannot leak into the weights."""
    import hashlib

    from isilon_hadoop_tools_spark.operators.corpus import (
        _quality_gd,
        _tdiv,
    )

    texts = {
        i: ("good " if y else "bad ") + " ".join(extra)
        for i, y in enumerate(labels)
    }
    texts = {i: t.strip() for i, t in texts.items()}
    df = spark.createDataFrame(
        [(i, t, int(y)) for (i, t), y in zip(texts.items(), labels)],
        "doc_id long, text string, y int",
    )
    from pyspark.sql import functions as F2

    n_buckets, rounds, scale = 8, 3, 1000
    got = _quality_gd(
        df, "text", "doc_id", F2.col("y") == 1, n_buckets, rounds, 1, 4,
        scale,
    )

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % n_buckets

    feats = {}
    for i, t in texts.items():
        row: dict[int, int] = {}
        for tok in t.split():
            j = bucket(tok)
            row[j] = row.get(j, 0) + 1
        row[n_buckets] = 1  # bias
        feats[i] = row
    n = len(texts)
    w = {j: 0 for j in range(n_buckets + 1)}
    for _ in range(rounds):
        grads = {j: 0 for j in w}
        for i, row in feats.items():
            m = sum(w[j] * x for j, x in row.items())
            big_n = min(4 * scale, max(0, 2 * scale + m))
            y = 1 if labels[i] else 0
            for j, x in row.items():
                grads[j] += (big_n - 4 * scale * y) * x
        for j in w:
            w[j] -= _tdiv(grads[j], 4 * 4 * n)
    assert got == w


def test_quality_fit_reuses_feats_and_count(spark):
    """`_quality_fit` must hand back the SAME checkpointed feature
    frame the GD loop trained on (scoring/selection reuse it instead
    of re-tokenizing the corpus) and the true corpus count, and the
    weights must match the `_quality_gd` wrapper exactly."""
    from pyspark.sql import functions as F2

    from isilon_hadoop_tools_spark.operators.corpus import (
        _quality_fit,
        _quality_gd,
    )

    df = spark.createDataFrame(
        [(i, ("good doc " if i % 2 else "bad doc ") * 3, i % 2)
         for i in range(20)],
        "doc_id long, text string, y int",
    )
    label = F2.col("y") == 1
    w, feats, n_docs = _quality_fit(
        df, "text", "doc_id", label, 8, 2, 1, 4, 1000
    )
    assert n_docs == 20
    # the returned frame is the checkpointed features: one bias row
    # (j = n_buckets) per document, ids intact
    bias = feats.filter(F2.col("j") == 8)
    assert bias.count() == 20
    assert feats.select("id").distinct().count() == 20
    # lineage is truncated by the eager checkpoint (reuse is free, no
    # re-tokenize): the plan bottoms out at an RDD scan
    assert "ExistingRDD" in feats._jdf.queryExecution().executedPlan().toString()
    assert _quality_gd(
        df, "text", "doc_id", label, 8, 2, 1, 4, 1000
    ) == w
