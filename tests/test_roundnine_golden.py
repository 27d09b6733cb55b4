"""Round-9 golden tests: the SRP-bucketed mutual-NN production path
(full numpy recompute including the md5-Rademacher bucket derivation)
and median-preservation of the trailing-window Theil-Sen (a window
covering the whole panel must reproduce the full-calendar estimator
bit-for-bit on each entity's last row)."""

from __future__ import annotations

import hashlib
import math

import pytest

from quantitative_database_and_visualization_platform_spark.factors.panel import daily_bars
from quantitative_database_and_visualization_platform_spark.pipeline.embeddings import (
    DIMS,
    N_PLANES,
)
from quantitative_database_and_visualization_platform_spark.plans import QUERIES
from quantitative_database_and_visualization_platform_spark.plans.backtest_queries import (
    _theil_sen_windowed,
)
from quantitative_database_and_visualization_platform_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def _r6(x: float) -> float:
    return math.floor(x * 1_000_000 + 0.5) / 1_000_000.0


def _plane_weights() -> list[list[float]]:
    """Python twin of embeddings._plane_sign: +1 iff the first hex digit
    of md5('p{p}_{j}') has its high bit set."""
    return [
        [
            1.0
            if hashlib.md5(f"p{p}_{j}".encode()).hexdigest()[0] >= "8"
            else -1.0
            for j in range(DIMS)
        ]
        for p in range(N_PLANES)
    ]


def _bucket(vec, weights) -> str:
    bits = []
    for w in weights:
        dot = sum(float(x) * s for x, s in zip(vec, w))
        bits.append("1" if dot >= 0 else "0")
    return "".join(bits)


def test_mutual_nearest_pairs_ann_matches_numpy(spark):
    """Full-python recompute of the bucketed pipeline: SRP buckets from
    first principles, candidates = same-primary-bucket pairs, mutual
    top-1 within candidates."""
    import numpy as np

    emb = load_table(spark, SF, "embeddings").toPandas()
    weights = _plane_weights()
    A = emb[(emb["label"] < 5) & (emb["vec_id"] % 5 == 0)]
    B = emb[emb["label"] >= 5]

    def c9(x, y):
        x, y = np.asarray(x, dtype=float), np.asarray(y, dtype=float)
        c = float(x @ y / (np.linalg.norm(x) * np.linalg.norm(y)))
        return math.floor(c * 1_000_000_000 + 0.5) / 1_000_000_000.0

    a_rows = [(r.vec_id, r.embedding, _bucket(r.embedding, weights)) for r in A.itertuples()]
    b_rows = [(r.vec_id, r.embedding, _bucket(r.embedding, weights)) for r in B.itertuples()]
    cand = [
        (aid, bid, c9(ea, eb))
        for aid, ea, ba in a_rows
        for bid, eb, bb in b_rows
        if ba == bb
    ]
    assert cand, "no same-bucket candidate at this sf — test degenerate"
    best_a = {}
    for aid in {a for a, _, _ in cand}:
        best = sorted(((-c, b) for a, b, c in cand if a == aid))[0]
        best_a[aid] = (best[1], -best[0])
    best_b = {}
    for bid in {b for _, b, _ in cand}:
        best_b[bid] = sorted(((-c, a) for a, b, c in cand if b == bid))[0][1]
    want = {
        (a, b, _r6(c)) for a, (b, c) in best_a.items() if best_b[b] == a
    }
    got = {
        (r["a_id"], r["b_id"], r["cos"])
        for r in QUERIES["mutual_nearest_pairs_ann"](spark, SF).collect()
    }
    assert got == want
    assert got, "no mutual pair survived the bucket join — test degenerate"


def test_mutual_nn_ann_is_subquadratic_candidate_set(spark):
    """The scale contract: the bucketed candidate relation must be a
    strict subset of the brute-force cross (the whole point of the
    production form)."""
    emb = load_table(spark, SF, "embeddings").toPandas()
    weights = _plane_weights()
    A = emb[(emb["label"] < 5) & (emb["vec_id"] % 5 == 0)]
    B = emb[emb["label"] >= 5]
    from collections import Counter

    ca = Counter(_bucket(r.embedding, weights) for r in A.itertuples())
    cb = Counter(_bucket(r.embedding, weights) for r in B.itertuples())
    bucketed_pairs = sum(ca[k] * cb.get(k, 0) for k in ca)
    assert 0 < bucketed_pairs < len(A) * len(B)


def test_theil_sen_windowed_full_panel_reproduces_full_estimator(spark):
    """Median preservation: with a trailing window at least as deep as
    the panel, each code's LAST windowed row sees exactly the rows the
    full-calendar estimator sees — identical quantization and identical
    lower-median order statistic, so slopes and pair counts must match
    bit-for-bit."""
    bars = daily_bars(spark, SF)
    depth = bars.groupBy().count().collect()[0][0]  # >= any per-code depth
    win = _theil_sen_windowed(bars, int(depth)).toPandas()
    last = win.sort_values("d").groupby("code").tail(1)
    got = {r.code: (r.n_pairs, r.theil_sen_slope) for r in last.itertuples()}
    want = {
        r["code"]: (r["n_pairs"], r["theil_sen_slope"])
        for r in QUERIES["theil_sen_trend"](spark, SF).collect()
    }
    assert got == want
    assert want, "empty panel — test degenerate"


def test_theil_sen_w20_matches_python_rolling_median(spark):
    """Pure-python trailing-20 pairwise-median recompute on the real
    panel (quantized identically)."""
    bars = daily_bars(spark, SF).toPandas()[["code", "d", "close"]]
    want = {}
    for code, grp in bars.sort_values("d").groupby("code"):
        cents = [int(round(v * 100)) for v in grp["close"]]
        days = list(grp["d"])
        for t in range(19, len(cents)):
            arr = cents[t - 19 : t + 1]
            sq = sorted(
                math.floor((arr[j] - arr[i]) * 1_000_000.0 / (j - i) + 0.5)
                for i in range(20)
                for j in range(i + 1, 20)
            )
            want[(code, days[t])] = (190, sq[(190 + 1) // 2 - 1] / 1e6 / 100.0)
    got = {
        (r["code"], r["d"]): (r["n_pairs"], r["theil_sen_slope"])
        for r in QUERIES["theil_sen_trend_w20"](spark, SF).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# Degenerate-input sweep of the remaining bounded driver reads (r8
# VERDICT item 5): each must return an empty/neutral result or keep its
# contract on empty input — never raise.
# ---------------------------------------------------------------------------
def test_bloom_bitmap_empty_reference_set(spark):
    """Decontamination against an EMPTY reference set: the bitmap is all
    zeros and every probe misses — no IndexError, no NULL leakage."""
    from pyspark.sql import functions as F

    from quantitative_database_and_visualization_platform_spark.pipeline import sketches as sk

    empty = spark.createDataFrame([], "g string")
    bits = sk.bloom_bits(empty, "g")
    words = sk.bloom_bitmap(bits)
    assert len(words) == sk.BLOOM_M // 64 and all(w == 0 for w in words)
    probe = spark.createDataFrame([("x",), ("y",)], "g string").withColumn(
        "__bw", F.array(*[F.lit(w) for w in words])
    )
    hits = probe.selectExpr(f"{sk.bloom_hit_sql('g')} AS hit").collect()
    assert [r["hit"] for r in hits] == [False, False]


# ---------------------------------------------------------------------------
# Round-9 operator batch goldens: windowFunnel DP vs a brute-force chain
# search, margin scoring vs numpy, incremental dedup vs the from-scratch
# pair relation.
# ---------------------------------------------------------------------------
def test_window_funnel_matches_python_bruteforce(spark):
    """The one-pass DP must agree with literal chain enumeration: for
    each user, level k is reachable iff some (e1 < e2 < ... < ek) of the
    chain types in (ts, event_id) order spans <= the window."""
    from quantitative_database_and_visualization_platform_spark.plans.advanced_queries import (
        _WF_WINDOW_US,
    )

    ev = load_table(spark, SF, "events").toPandas()
    lvl_of = {"signup": 1, "click": 2, "purchase": 3}
    levels = {}
    for uid, grp in ev.groupby("user_id"):
        es = sorted(
            (int(r.ts.value // 1000), r.event_id, lvl_of[r.event_type])
            for r in grp.itertuples()
            if r.event_type in lvl_of
        )
        best = 0
        for i, (t1, _, l1) in enumerate(es):
            if l1 != 1:
                continue
            best = max(best, 1)
            for j in range(i + 1, len(es)):
                t2, _, l2 = es[j]
                if l2 != 2 or t2 - t1 > _WF_WINDOW_US:
                    continue
                best = max(best, 2)
                for k in range(j + 1, len(es)):
                    t3, _, l3 = es[k]
                    if l3 == 3 and t3 - t1 <= _WF_WINDOW_US:
                        best = 3
                        break
                if best == 3:
                    break
            if best == 3:
                break
        levels[uid] = best
    from collections import Counter

    want = Counter(levels.values())
    got = {
        r["funnel_level"]: r["n_users"]
        for r in QUERIES["window_funnel_steps"](spark, SF).collect()
    }
    assert got == dict(want)
    assert len(got) >= 2, "degenerate level distribution at this sf"


def test_margin_scored_pairs_matches_numpy(spark):
    import numpy as np

    from quantitative_database_and_visualization_platform_spark.plans.pipeline_queries import (
        _MARGIN_K,
    )

    emb = load_table(spark, SF, "embeddings").toPandas()
    A = emb[(emb["label"] < 5) & (emb["vec_id"] % 5 == 0)]
    B = emb[emb["label"] >= 5]

    def cq(x, y):
        x, y = np.asarray(x, dtype=float), np.asarray(y, dtype=float)
        c = float(x @ y / (np.linalg.norm(x) * np.linalg.norm(y)))
        return math.floor(c * 1_000_000_000 + 0.5)

    pairs = {
        (ra.vec_id, rb.vec_id): cq(ra.embedding, rb.embedding)
        for ra in A.itertuples()
        for rb in B.itertuples()
    }
    a_ids = sorted({a for a, _ in pairs})
    b_ids = sorted({b for _, b in pairs})
    fm = {
        a: (lambda t: sum(t) / len(t))(
            [c for c, _ in sorted(((pairs[(a, b)], b) for b in b_ids),
                                  key=lambda x: (-x[0], x[1]))[:_MARGIN_K]]
        )
        for a in a_ids
    }
    bm = {
        b: (lambda t: sum(t) / len(t))(
            [c for c, _ in sorted(((pairs[(a, b)], a) for a in a_ids),
                                  key=lambda x: (-x[0], x[1]))[:_MARGIN_K]]
        )
        for b in b_ids
    }
    want = {}
    for a in a_ids:
        scored = sorted(
            (
                (-math.floor(pairs[(a, b)] / ((fm[a] + bm[b]) / 2.0) * 1e9 + 0.5), b)
                for b in b_ids
            )
        )
        mq, b = -scored[0][0], scored[0][1]
        want[a] = (
            b,
            math.floor(pairs[(a, b)] / 1000.0 + 0.5) / 1e6,
            math.floor(mq / 1000.0 + 0.5) / 1e6,
        )
    got = {
        r["a_id"]: (r["b_id"], r["cos"], r["margin"])
        for r in QUERIES["margin_scored_pairs"](spark, SF).collect()
    }
    assert got == want
    assert got, "empty probe panel — test degenerate"


def test_dedup_incremental_consistent_with_fullscratch(spark):
    """Incremental dedup must agree with a from-scratch run: a batch doc
    keeps iff the full dedup_minhash_lsh pair relation has NO verified
    pair linking it to a corpus doc or an earlier batch doc (same
    shingles, signatures, bands, and threshold — so exact equality, not
    approximation)."""
    full = QUERIES["dedup_minhash_lsh"](spark, SF).collect()
    links: dict[int, list[int]] = {}
    for r in full:
        for d, o in ((r["a_id"], r["b_id"]), (r["b_id"], r["a_id"])):
            if d % 7 == 0 and (o % 7 != 0 or o < d):
                links.setdefault(d, []).append(o)
    got = {
        r["doc_id"]: (r["n_corpus_dups"], r["n_batch_dups"], r["keep"])
        for r in QUERIES["dedup_incremental"](spark, SF).collect()
    }
    for d, (nc, nb, keep) in got.items():
        os_ = links.get(d, [])
        assert nc == sum(1 for o in os_ if o % 7 != 0), d
        assert nb == sum(1 for o in os_ if o % 7 == 0), d
        assert keep == (1 if not os_ else 0), d
    assert set(links) <= set(got)


def test_kmv_set_overlap_matches_python(spark):
    """Full-python recompute: the 52-bit md5 hash order statistics, the
    three scope estimates, inclusion-exclusion, and the exact audit."""
    ev = load_table(spark, SF, "events").toPandas()
    ev = ev[ev["event_type"].isin(["click", "purchase"])]

    def h(u) -> int:
        return int(hashlib.md5(str(u).encode()).hexdigest()[:13], 16)

    def est(users) -> float:
        hs = sorted({h(u) for u in users})
        k = 64
        if len(hs) < k:
            return float(len(hs))
        return float(k - 1) * float(1 << 52) / float(hs[k - 1])

    a = ev[ev["event_type"] == "click"]["user_id"]
    b = ev[ev["event_type"] == "purchase"]["user_id"]
    want = {
        "est_click": est(a),
        "est_purchase": est(b),
        "est_union": est(list(a) + list(b)),
        "exact_click": a.nunique(),
        "exact_purchase": b.nunique(),
        "exact_union": len(set(a) | set(b)),
        "exact_intersection": len(set(a) & set(b)),
    }
    want["est_intersection"] = max(
        0.0, want["est_click"] + want["est_purchase"] - want["est_union"]
    )
    rows = QUERIES["kmv_set_overlap"](spark, SF).collect()
    assert len(rows) == 1
    got = rows[0].asDict()
    for k_, v in want.items():
        if isinstance(v, float):
            assert abs(got[k_] - v) < 1e-9, (k_, got[k_], v)
        else:
            assert got[k_] == v, (k_, got[k_], v)


def test_mean_reversion_halflife_matches_python_ols(spark):
    bars = daily_bars(spark, SF).toPandas()[["code", "d", "close"]]
    want = {}
    for code, grp in bars.sort_values("d").groupby("code"):
        c = [int(round(v * 100)) for v in grp["close"]]
        xs = c[:-1]
        ys = [c[i + 1] - c[i] for i in range(len(c) - 1)]
        n = len(xs)
        beta = hl = None
        if n >= 10:
            sx, sy = sum(xs), sum(ys)
            sxy = sum(x * y for x, y in zip(xs, ys))
            sxx = sum(x * x for x in xs)
            if n * sxx > sx * sx:
                beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
                if -1 < beta < 0:
                    hl = -math.log(2) / math.log(1 + beta)

        def r6(v):
            return None if v is None else math.floor(v * 1e6 + 0.5) / 1e6

        want[code] = (n, r6(beta), r6(hl))
    got = {
        r["code"]: (r["n_days"], r["ar1_beta"], r["halflife_days"])
        for r in QUERIES["mean_reversion_halflife"](spark, SF).collect()
    }
    assert got == want
    assert any(v[2] is not None for v in want.values()), "no reverting code"


def test_sequence_match_matches_python(spark):
    ev = load_table(spark, SF, "events").toPandas()
    import re

    n_users = n_sep = n_adj = 0
    for _uid, grp in ev.groupby("user_id"):
        seq = "".join(
            r.event_type[0]
            for r in sorted(
                grp.itertuples(), key=lambda r: (r.ts.value, r.event_id)
            )
        )
        n_users += 1
        n_sep += bool(re.search("s.*e.*p", seq))
        n_adj += "se" in seq
    rows = QUERIES["sequence_match_chain"](spark, SF).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["n_users"], r["n_signup_error_purchase"],
            r["n_adjacent_signup_error"]) == (n_users, n_sep, n_adj)
    assert 0 < n_sep <= n_users


@pytest.mark.full_tier  # r14 smoke split (see conftest)
def test_alpha_build_fails_fast_on_tiny_heap_keeping_session_alive():
    """r9 rehearsal finding: a default 1 GB local-mode driver OOM-kills
    the whole SparkContext mid-alpha-build, poisoning every query after
    it in a gate session. The guard must RAISE a python error instead
    (context stays alive; only the alpha family reports red). Runs in a
    subprocess because driver memory is fixed at JVM launch."""
    import subprocess
    import sys

    code = (
        "from pyspark.sql import SparkSession\n"
        "spark = (SparkSession.builder.master('local[8]')\n"
        "         .config('spark.ui.enabled', 'false').getOrCreate())\n"
        "import __spark_entry__ as e\n"
        "qs = e.queries()\n"
        "SF = '/root/testdata/sf0.001'\n"
        "try:\n"
        "    qs['alpha101_b'](spark, SF).toArrow()\n"
        "    raise SystemExit('guard did not trip on a 1 GB heap')\n"
        "except RuntimeError as exc:\n"
        "    assert 'driver heap' in str(exc), exc\n"
        "assert qs['sector_rollup'](spark, SF).count() > 0\n"
        "print('GUARD_OK')\n"
    )
    r = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=300,
    )
    assert "GUARD_OK" in r.stdout, (r.stdout[-800:], r.stderr[-800:])


def test_retention_weekly_matches_python(spark):
    ev = load_table(spark, SF, "events").toPandas()
    d0 = ev["ts"].dt.date.min()
    from datetime import timedelta

    flags = {}
    for uid, grp in ev.groupby("user_id"):
        c1 = c2 = c3 = 0
        for r in grp.itertuples():
            d = r.ts.date()
            if r.event_type == "signup" and d < d0 + timedelta(days=7):
                c1 = 1
            if r.event_type == "click" and d0 + timedelta(days=7) <= d < d0 + timedelta(days=14):
                c2 = 1
            if r.event_type == "purchase" and d0 + timedelta(days=14) <= d < d0 + timedelta(days=21):
                c3 = 1
        flags[uid] = (c1, c2, c3)
    want = (
        sum(f[0] for f in flags.values()),
        sum(f[0] * f[1] for f in flags.values()),
        sum(f[0] * f[2] for f in flags.values()),
        len(flags),
    )
    r = QUERIES["retention_weekly"](spark, SF).collect()[0]
    assert (r["acquired_w1"], r["retained_w2"], r["retained_w3"], r["n_users"]) == want
    assert want[0] > 0


def test_simhash_wide_matches_python(spark):
    """Triangulate the 64-bit SimHash: pure-python recompute of the
    salted-md5 bit derivation (bits 0-31 from md5(feature), 32-63 from
    md5('1|' + feature)), the tf-weighted signs, the 16-bit pigeonhole
    candidates, and the Hamming verify."""
    import re as _re

    from quantitative_database_and_visualization_platform_spark.plans.pipeline_queries import (
        _WIDE_BITS,
    )

    docs = load_table(spark, SF, "documents").toPandas()
    sigs = {}
    for r in docs.itertuples():
        words = _re.sub(" +", " ", r.text).strip().lower().split(" ")
        if len(words) < 3:
            continue
        feats = [" ".join(words[i : i + 3]) for i in range(len(words) - 2)]
        sums = [0] * _WIDE_BITS
        for f_ in feats:
            h0 = hashlib.md5(f_.encode()).hexdigest()
            h1 = hashlib.md5(("1|" + f_).encode()).hexdigest()
            for p in range(_WIDE_BITS):
                salt, pos = divmod(p, 32)
                d = (h0 if salt == 0 else h1)[pos]
                sums[p] += 1 if d >= "8" else -1
        sigs[r.doc_id] = "".join("1" if s >= 0 else "0" for s in sums)
    block = _WIDE_BITS // 4
    want = {}
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            sa, sb = sigs[a], sigs[b]
            shares = any(
                sa[k * block : (k + 1) * block] == sb[k * block : (k + 1) * block]
                for k in range(4)
            )
            if not shares:
                continue
            ham = sum(x != y for x, y in zip(sa, sb))
            if ham <= 3:
                want[(a, b)] = ham
    got = {
        (r["a_id"], r["b_id"]): r["hamming"]
        for r in QUERIES["dedup_simhash_wide"](spark, SF).collect()
    }
    assert got == want


def test_residual_momentum_matches_python(spark):
    """Full-python recompute: fixed-point market mean, 10-day rolling
    OLS beta, 6dp-floored beta, 1e-6-quantized residuals, trailing-10
    integer sum."""
    import statistics

    bars = daily_bars(spark, SF).toPandas()[["code", "d", "close"]]
    RS = 1_000_000
    rets = {}
    for code, grp in bars.sort_values("d").groupby("code"):
        prev = None
        for r in grp.itertuples():
            if prev is not None:
                rets[(code, r.d)] = r.close / prev - 1
            prev = r.close
    by_d = {}
    for (code, d), v in rets.items():
        by_d.setdefault(d, []).append(v)
    mkt = {
        d: sum(int(round(v * RS)) for v in vs) / len(vs) / RS
        for d, vs in by_d.items()
    }
    want = {}
    for code in sorted({c for c, _ in rets}):
        days = sorted(d for c, d in rets if c == code)
        series = [(d, rets[(code, d)], mkt[d]) for d in days]
        rq = []
        for t in range(len(series)):
            win = series[max(0, t - 9) : t + 1]
            d, ret, m = series[t]
            if len(win) >= 10:
                ms = [x[2] for x in win]
                vs = [x[1] for x in win]
                vm = statistics.variance(ms)
                if vm > 0:
                    cov = sum(
                        (a - statistics.mean(vs)) * (b - statistics.mean(ms))
                        for a, b in zip(vs, ms)
                    ) / (len(win) - 1)
                    beta = math.floor(cov / vm * 1e6 + 0.5) / 1e6
                    rq.append((d, math.floor((ret - beta * m) * RS + 0.5)))
                    if len(rq) >= 10:
                        s = sum(q for _, q in rq[-10:])
                        want[(code, d)] = math.floor(s / RS * 1e6 + 0.5) / 1e6
                    else:
                        want[(code, d)] = None
                    continue
            # beta undefined: row drops out of the residual series
        # rows with beta undefined are absent entirely (filter in the query)
    got = {
        (r["code"], r["d"]): r["resid_mom_10"]
        for r in QUERIES["residual_momentum"](spark, SF).collect()
    }
    # exact-keys, tolerant-values: the python variance/covariance is a
    # different summation ORDER than VAR_SAMP/COVAR_SAMP, so the
    # 6dp-floored beta can differ by one ulp and propagate 1e-6 into the
    # sum. Cross-ENGINE exactness is enforced by the binding DuckDB
    # oracle; this golden checks the construction, not the ulp.
    assert set(got) == set(want)
    for k, v in want.items():
        g = got[k]
        if v is None or g is None:
            assert g == v, k
        else:
            # python statistics.variance is EXACT rational arithmetic
            # while both engines run float co-moment recurrences, so the
            # reference beta differs by ~1e-12 relative — which scales
            # with the residual magnitude (this synthetic panel has
            # 100x-return spike days). Relative + absolute tolerance.
            assert abs(g - v) <= 5e-6 + 1e-6 * abs(v), (k, g, v)
    assert any(v is not None for v in want.values())
