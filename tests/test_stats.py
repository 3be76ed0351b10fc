"""Corpus statistics operators (A3/A4/A5/A7, P5) on the fixture corpus,
cross-checked against sequential pure-python counts.
"""

import pytest
from pyspark.sql import functions as F

from deepie_spark.operators.stats import (
    corpus_counts,
    distance_filter,
    distance_histogram,
    global_max_stats,
    max_binary_feature_len,
)
from deepie_spark.sources.tsv_corpus import parse_line, read_corpus
from tests.conftest import REFERENCE_DATA
from tests.test_parser import all_lines


@pytest.fixture(scope="module")
def mentions(spark):
    return read_corpus(spark, REFERENCE_DATA).cache()


@pytest.fixture(scope="module")
def recs():
    return [parse_line(c, l) for c, _, l in all_lines()]


def test_corpus_counts(mentions):
    got = {r["corpus"]: r["n_instances"] for r in corpus_counts(mentions).collect()}
    assert len(got) == 15
    assert all(v == 10 for v in got.values())


def test_global_max_stats(mentions, recs):
    row = global_max_stats(mentions).collect()[0]
    assert row["max_sentence_len"] == max(len(r["tokens"]) for r in recs)
    assert row["max_distance"] == max(abs(r["pos2"] - r["pos1"]) for r in recs)
    assert row["max_dep_len"] == max(len(r["dep_tokens"]) for r in recs)


def test_distance_histogram(mentions, recs):
    from collections import Counter

    want = Counter(abs(r["pos2"] - r["pos1"]) for r in recs)
    got = {r["distance"]: r["n"] for r in distance_histogram(mentions).collect()}
    assert got == dict(want)


def test_max_binary_feature_len(mentions, recs):
    row = max_binary_feature_len(mentions).collect()[0]
    assert row["max_bin_feats"] == max(len(r["bin_feats"]) for r in recs)


def test_distance_filter(mentions, recs):
    d = 5
    want = sum(1 for r in recs if abs(r["pos2"] - r["pos1"]) <= d)
    assert distance_filter(mentions, d).count() == want
    # default bound (1e8) is effectively disabled, like the reference
    assert distance_filter(mentions).count() == len(recs)


def test_grouped_pearson_matches_numpy_and_guards_zero_variance(spark):
    import numpy as np
    from deepie_spark.operators.stats import grouped_pearson

    rng = np.random.RandomState(7)
    rows = [
        ("g1", int(x), int(x * 3 + rng.randint(0, 10)))
        for x in rng.randint(1, 100, 40)
    ]
    rows += [("g2", int(x), int(200 - x)) for x in range(1, 21)]
    rows += [("const_x", 5, i) for i in range(1, 6)]   # zero x-variance
    rows += [("single", 9, 9)]                          # n = 1
    df = spark.createDataFrame(rows, "source string, x long, y long")
    got = {r["source"]: r["corr"] for r in grouped_pearson(df).collect()}

    for g in ("g1", "g2"):
        xs = np.array([x for s, x, _ in rows if s == g], dtype=float)
        ys = np.array([y for s, _, y in rows if s == g], dtype=float)
        want = np.corrcoef(xs, ys)[0, 1]
        assert got[g] == pytest.approx(round(want, 6), abs=2e-6)
    assert got["g2"] == -1.0  # exact anticorrelation
    # zero-variance groups are NULL, not a DIVIDE_BY_ZERO crash
    assert got["const_x"] is None
    assert got["single"] is None


def test_triple_confidence_noisy_or(spark):
    """conf = 1 - prod(1-p) with the product folded in sorted order —
    python twin equality and repartition invariance (bitwise: the fold
    order is pinned by the sort, not the partitioning)."""
    from deepie_spark.operators.stats import triple_confidence

    rows = [
        ("a", "R", "b", 0.9),
        ("a", "R", "b", 0.5),
        ("a", "R", "b", 0.75),
        ("x", "S", "y", 0.25),
    ]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, prob double"
    )
    got = {
        (r["subj"], r["pred"], r["obj"]): (r["n_mentions"], r["confidence"])
        for r in triple_confidence(df).collect()
    }
    import math

    def noisy_or(ps):
        acc = 1.0
        for p in sorted(ps):
            acc *= 1.0 - p
        return round(1.0 - acc, 6)

    assert got == {
        ("a", "R", "b"): (3, noisy_or([0.9, 0.5, 0.75])),
        ("x", "S", "y"): (1, noisy_or([0.25])),
    }
    got2 = {
        (r["subj"], r["pred"], r["obj"]): (r["n_mentions"], r["confidence"])
        for r in triple_confidence(df.repartition(7)).collect()
    }
    assert got2 == got


def test_gini_concentration_python_twin(spark):
    import numpy as np

    from deepie_spark.operators.stats import gini_concentration

    rng = np.random.RandomState(5)
    vals = [int(v) for v in rng.zipf(1.7, 200).clip(1, 10_000)]
    df = spark.createDataFrame(
        [(f"u{i}", v) for i, v in enumerate(vals)], ["k", "x"]
    )
    row = gini_concentration(df, "x", "k").collect()[0]
    xs = sorted(vals)
    n, total = len(xs), sum(xs)
    s = sum((i + 1) * x for i, x in enumerate(xs))
    assert (row.n, row.total, row.rank_sum) == (n, total, s)
    assert row.gini == round((2 * s) / (n * total) - (n + 1) / n, 6)


def test_gini_extremes(spark):
    from deepie_spark.operators.stats import gini_concentration

    # perfectly equal → 0; one holder of all mass → 1 − 1/n
    eq = spark.createDataFrame(
        [(f"u{i}", 7) for i in range(50)], ["k", "x"]
    )
    assert gini_concentration(eq, "x", "k").collect()[0].gini == 0.0
    onehot = spark.createDataFrame(
        [("rich", 1000)] + [(f"u{i}", 0) for i in range(9)], ["k", "x"]
    )
    row = gini_concentration(onehot, "x", "k").collect()[0]
    assert row.gini == round(2 * 10 * 1000 / (10 * 1000) - 11 / 10, 6)


def test_lorenz_deciles_python_twin(spark):
    import numpy as np

    from deepie_spark.operators.stats import lorenz_deciles

    rng = np.random.RandomState(9)
    vals = [int(v) for v in rng.zipf(1.8, 137).clip(1, 5000)]
    df = spark.createDataFrame(
        [(f"u{i}", v) for i, v in enumerate(vals)], ["k", "x"]
    )
    got = {
        r.decile: (r.cum_value, r.total, r.cum_share)
        for r in lorenz_deciles(df, "x", "k").collect()
    }
    xs = sorted(vals)
    n, total = len(xs), sum(xs)
    expect = {}
    cum = {}
    for i, x in enumerate(xs, 1):
        d = ((i - 1) * 10) // n
        cum[d] = cum.get(d, 0) + x
    run = 0
    for d in sorted(cum):
        run += cum[d]
        expect[d] = (run, total, round(run / total, 6))
    assert got == expect
    # the curve is convex-increasing and ends at share 1.0
    assert got[max(got)][2] == 1.0


def test_poisson_bootstrap_python_twin_and_se(spark):
    import math

    import numpy as np

    from deepie_spark.operators.stats import (
        _POIS_A,
        _POIS_B,
        _POIS_MOD,
        _poisson_thresholds,
        poisson_bootstrap_mean,
    )

    rng = np.random.RandomState(21)
    vals = [int(v) for v in rng.normal(500, 80, size=600)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], ["k", "x"]
    )
    out = poisson_bootstrap_mean(df, "x", "k", n_reps=20).collect()
    got = {r.rep: (r.sum_w, r.sum_wx, r.mean) for r in out}

    t = _poisson_thresholds()

    def w_of(key, rep):
        h = (key % _POIS_MOD * _POIS_A + (rep + 1) * _POIS_B) % _POIS_MOD
        for k, th in enumerate(t):
            if h < th:
                return k
        return 4

    expect = {}
    for rep in range(20):
        sw = sum(w_of(i, rep) for i in range(len(vals)))
        swx = sum(w_of(i, rep) * v for i, v in enumerate(vals))
        expect[rep] = (sw, swx, round(swx / sw, 6))
    assert got == expect

    # statistical sanity: bootstrap SE of the mean tracks s/sqrt(n)
    means = [m for _, _, m in got.values()]
    boot_se = np.std(means, ddof=1)
    classical = np.std(vals, ddof=1) / math.sqrt(len(vals))
    assert classical / 3 < boot_se < classical * 3


def test_value_benford_python_twin(spark):
    import math
    from collections import Counter

    from __spark_entry__ import q_value_benford

    sf = "/root/testdata/sf0.001"
    got = {
        r.digit: (r.n, r.total, r.share, r.benford, r.lift)
        for r in q_value_benford(spark, sf).collect()
    }
    import pandas as pd

    cents = (
        (pd.read_parquet(f"{sf}/events.parquet")["value"] * 100)
        .round()
        .astype("int64")
    )
    cents = cents[cents > 0]
    c = Counter(int(str(v)[0]) for v in cents)
    total = sum(c.values())
    expect = {}
    for d, n in c.items():
        ben = math.log10(1.0 + 1.0 / d)
        expect[d] = (
            n,
            total,
            round(n / total, 6),
            round(ben, 6),
            round(n / (total * ben), 6),
        )
    assert got == expect


def test_welch_ttest_python_twin(spark):
    import math

    import numpy as np

    from deepie_spark.operators.stats import welch_ttest

    rng = np.random.RandomState(33)
    a = [int(v) for v in rng.normal(520, 60, size=180)]
    b = [int(v) for v in rng.normal(495, 90, size=240)]
    rows = [("A", v) for v in a] + [("B", v) for v in b] + [("C", 1)]
    df = spark.createDataFrame(rows, ["g", "x"])
    r = welch_ttest(df, "g", "x", "A", "B").collect()[0]
    assert (r.n_a, r.sx_a, r.n_b, r.sx_b) == (
        len(a), sum(a), len(b), sum(b)
    )

    def se2(xs):
        n, sx, sxx = len(xs), sum(xs), sum(v * v for v in xs)
        return (n * sxx - sx * sx) / (n * (n - 1)) / n

    s = se2(a) + se2(b)
    t = (sum(a) / len(a) - sum(b) / len(b)) / math.sqrt(s)
    dof = (s * s) / (
        (se2(a) * se2(a)) / (len(a) - 1) + (se2(b) * se2(b)) / (len(b) - 1)
    )
    assert r.t_stat == round(t, 6) and r.welch_df == round(dof, 6)
    # df must land between min(n)-1 and n_a+n_b-2 (Welch bounds)
    assert min(len(a), len(b)) - 1 <= r.welch_df <= len(a) + len(b) - 2


def test_welch_ttest_degenerate_null(spark):
    from deepie_spark.operators.stats import welch_ttest

    df = spark.createDataFrame(
        [("A", 5), ("A", 5), ("B", 5), ("B", 5)], ["g", "x"]
    )
    r = welch_ttest(df, "g", "x", "A", "B").collect()[0]
    assert r.t_stat is None and r.welch_df is None
    one = spark.createDataFrame([("A", 1), ("B", 2), ("B", 3)], ["g", "x"])
    r = welch_ttest(one, "g", "x", "A", "B").collect()[0]
    assert r.t_stat is None


def test_user_hindex_python_twin(spark):
    from collections import Counter

    import pandas as pd

    from __spark_entry__ import q_user_hindex

    sf = "/root/testdata/sf0.001"
    got = {
        r.user_id: (r.h_index, r.n_days, r.n_events)
        for r in q_user_hindex(spark, sf).collect()
    }
    pdf = pd.read_parquet(f"{sf}/events.parquet")
    per = {}
    for u, ts in zip(pdf["user_id"], pdf["ts"]):
        per.setdefault(int(u), Counter())[ts.date()] += 1
    expect = {}
    for u, c in per.items():
        counts = sorted(c.values(), reverse=True)
        h = max((r for r, n in enumerate(counts, 1) if n >= r),
                default=0)
        expect[u] = (h, len(c), sum(c.values()))
    assert got == expect


def test_zipf_fit_python_twin_and_slope(spark):
    import math

    import numpy as np

    from deepie_spark.operators.stats import zipf_fit

    # true Zipf frequencies: f(r) = round(C / r) → slope must fit ≈ −1
    C = 12000
    rows = [(f"w{r}", max(1, round(C / r))) for r in range(1, 400)]
    df = spark.createDataFrame(rows, ["item", "n"])
    out = zipf_fit(df, "item", "n").collect()[0]

    S = float(1 << 20)
    ranked = sorted(rows, key=lambda kv: (-kv[1], kv[0]))
    xs = [int(math.floor(math.log(i + 1) * S)) for i in range(len(ranked))]
    ys = [int(math.floor(math.log(n) * S)) for _, n in ranked]
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = sy / n / S - slope * (sx / n / S)
    assert (out.n_items, out.sx, out.sy, out.sxx, out.sxy) == (
        n, sx, sy, sxx, sxy
    )
    assert out.zipf_slope == round(slope, 6)
    assert out.zipf_intercept == round(intercept, 6)
    assert -1.05 < out.zipf_slope < -0.95
    assert out.n_hapax == sum(1 for _, c in rows if c == 1)


def test_event_burstiness_identity(spark):
    """Fano = Var/Mean over the 32-bin grid WITH empty bins as zeros:
    check the (B·Σn² − T²)/(B·T) identity against numpy on the gated
    query's own output inputs, plus the Poisson≈1 / bursty≫1 contrast
    on synthetic extremes."""
    import numpy as np

    from __spark_entry__ import q_event_burstiness

    rows = q_event_burstiness(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        # identity on the emitted exact longs
        assert r.fano == round(
            (32 * r.sum_sq - r.total * r.total) / (32 * r.total), 6
        )
        assert r.fano >= 0.0

    # contrast: all mass in one bin (max burst) vs perfectly uniform
    # fano_uniform → variance 0 when total % 32 == 0
    counts_burst = np.zeros(32, dtype=np.int64)
    counts_burst[0] = 320
    counts_uni = np.full(32, 10, dtype=np.int64)
    for counts, expect_zero in ((counts_burst, False), (counts_uni, True)):
        T, S = int(counts.sum()), int((counts * counts).sum())
        fano = (32 * S - T * T) / (32 * T)
        assert (fano == 0.0) == expect_zero


def test_cohens_kappa_hand_case(spark):
    """κ over a hand confusion matrix, via the gated query's exact
    formula — and the classic sanity: κ < accuracy when classes are
    imbalanced, κ = 1 on perfect agreement."""
    from __spark_entry__ import q_lang_kappa

    r = q_lang_kappa(spark, "/root/testdata/sf0.001").collect()[0]
    n, a, pe_num = r.n_total, r.n_agree, r.pe_num
    po = a / n
    pe = pe_num / (n * n)
    assert r.po == round(po, 6)
    assert r.kappa == round((po - pe) / (1.0 - pe), 6)
    assert r.kappa <= r.po + 1e-9


def test_interarrival_stats_python_twin(spark):
    import math

    import pandas as pd

    from __spark_entry__ import q_interarrival_stats

    sf = "/root/testdata/sf0.001"
    got = {
        r.event_type: (r.n, r.sd, r.sdd, r.cv)
        for r in q_interarrival_stats(spark, sf).collect()
    }
    pdf = (
        pd.read_parquet(f"{sf}/events.parquet")
        .sort_values(["user_id", "ts", "event_id"])
    )
    per = {}
    for _, grp in pdf.groupby("user_id"):
        # pandas 2 loads parquet timestamps as datetime64[us] — pin ns
        # before the epoch division or the deltas come out 1000× small
        es = (
            grp["ts"].astype("datetime64[ns]").astype("int64") // 10**9
        ).tolist()
        types = grp["event_type"].tolist()
        for i in range(1, len(es)):
            per.setdefault(types[i], []).append(es[i] - es[i - 1])
    expect = {}
    for t, ds in per.items():
        n, sd, sdd = len(ds), sum(ds), sum(d * d for d in ds)
        cv = None
        if n > 1 and sd > 0:
            cv = round(
                (math.sqrt(n * sdd - sd * sd) / sd)
                * math.sqrt(n / (n - 1)),
                6,
            )
        expect[t] = (n, sd, sdd, cv)
    assert got == expect


def test_spearman_rank_corr_extremes(spark):
    """Identical orderings → ρ = 1; exact reversal → ρ = −1; the
    gated query's value on testdata matches a python twin."""
    from collections import Counter

    import pandas as pd

    from __spark_entry__ import q_user_rank_corr

    r = q_user_rank_corr(spark, "/root/testdata/sf0.001").collect()[0]
    pdf = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    per_n, per_c = Counter(), Counter()
    for u, v in zip(pdf["user_id"], pdf["value"]):
        per_n[int(u)] += 1
        per_c[int(u)] += int(round(v * 100))
    users = sorted(per_n)
    r1 = {u: i for i, u in enumerate(
        sorted(users, key=lambda u: (per_n[u], u)), 1)}
    r2 = {u: i for i, u in enumerate(
        sorted(users, key=lambda u: (per_c[u], u)), 1)}
    n = len(users)
    sd2 = sum((r1[u] - r2[u]) ** 2 for u in users)
    assert (r.n, r.sum_d2) == (n, sd2)
    assert r.spearman == round(1.0 - (6 * sd2) / (n * (n * n - 1)), 6)
    # extremes sanity in pure python (the formula itself)
    assert 1.0 - (6 * 0) / (5 * 24) == 1.0
    rev = sum((i - (6 - i)) ** 2 for i in range(1, 6))
    assert round(1.0 - 6 * rev / (5 * 24), 6) == -1.0


def test_value_anova_python_twin(spark):
    import math
    from collections import defaultdict

    import pandas as pd

    from __spark_entry__ import q_value_anova

    r = q_value_anova(spark, "/root/testdata/sf0.001").collect()[0]
    pdf = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    per = defaultdict(list)
    for t, v in zip(pdf["event_type"], pdf["value"]):
        per[t].append(int(round(v * 100)))
    k = len(per)
    n = sum(len(xs) for xs in per.values())
    s = sum(sum(xs) for xs in per.values())
    sxx = sum(x * x for xs in per.values() for x in xs)
    S = float(1 << 20)
    ssb_fp = sum(
        math.floor((sum(xs) * sum(xs)) / len(xs) * S)
        for xs in per.values()
    )
    assert (r.k, r.n, r.s, r.sxx, r.ssb_fp) == (k, n, s, sxx, ssb_fp)
    ssb = ssb_fp / S - (s * s) / n
    ssw = sxx - ssb_fp / S
    assert r.f_stat == round((ssb / (k - 1)) / (ssw / (n - k)), 6)
    # the between-group SS is nonnegative up to quantization
    assert ssb >= -k


def test_anova_separated_groups_give_large_f(spark):
    from __spark_entry__ import _events  # noqa: F401 (import parity)
    from deepie_spark.operators.stats import welch_ttest  # noqa: F401

    # direct formula check: two well-separated groups → F ≫ 1
    import math

    groups = {"a": [100] * 30, "b": [500] * 30}
    k, n = 2, 60
    s = sum(sum(v) for v in groups.values())
    sxx = sum(x * x for v in groups.values() for x in v)
    S = float(1 << 20)
    ssb_fp = sum(
        math.floor((sum(v) * sum(v)) / len(v) * S)
        for v in groups.values()
    )
    ssb = ssb_fp / S - (s * s) / n
    ssw = sxx - ssb_fp / S
    # zero within-group variance → SSW ≈ 0 (quantization only)
    assert ssb > 1e6 and abs(ssw) < 1.0


def test_chi2_python_twin(spark):
    import math
    from collections import Counter

    import pandas as pd

    from __spark_entry__ import q_source_lang_chi2

    r = q_source_lang_chi2(spark, "/root/testdata/sf0.001").collect()[0]
    pdf = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
    cm = Counter(zip(pdf["source"], pdf["lang"]))
    rs = Counter()
    cs = Counter()
    for (s, l), o in cm.items():
        rs[s] += o
        cs[l] += o
    N = sum(cm.values())
    S = float(1 << 20)
    fp = 0
    for (s, l), o in cm.items():
        e = (rs[s] * cs[l]) / N
        fp += math.floor(((o - e) * (o - e)) / e * S)
    assert (r.n_cells, r.chi2_fp) == (len(cm), fp)
    assert r.df == (len(rs) - 1) * (len(cs) - 1)
    assert r.chi2 == round(fp / S, 6) and r.chi2 >= 0.0


def test_mwu_python_twin(spark):
    import pandas as pd

    from __spark_entry__ import q_value_mwu

    r = q_value_mwu(spark, "/root/testdata/sf0.001").collect()[0]
    pdf = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    pdf = pdf[pdf["event_type"].isin(["purchase", "click"])]
    cents = (pdf["value"] * 100).round().astype("int64")
    a = sorted(cents[pdf["event_type"] == "purchase"])
    b = sorted(cents[pdf["event_type"] == "click"])
    pooled = sorted(a + b)
    # doubled midrank of value v: lo + hi of its tie run (1-based)
    from collections import Counter

    cnt = Counter(pooled)
    lo, r2 = {}, 0
    pos = 1
    for v in sorted(cnt):
        lo[v] = pos
        pos += cnt[v]
    for v in a:
        r2 += lo[v] + (lo[v] + cnt[v] - 1)
    na, nb = len(a), len(b)
    n = na + nb
    tie = sum(t * t * t - t for t in cnt.values())
    assert (r.n_a, r.n_b, r.r2_a, r.tie_sum) == (na, nb, r2, tie)
    assert r.u2_a == r2 - na * (na + 1)
    # U_a + U_b = n_a·n_b (the rank-sum identity, doubled)
    r2_b = sum(
        lo[v] + (lo[v] + cnt[v] - 1) for v in b
    )
    assert (r2 - na * (na + 1)) + (r2_b - nb * (nb + 1)) == 2 * na * nb
    var = (na * nb) / 12 * ((n + 1) - tie / (n * (n - 1)))
    assert r.z_stat == round(
        ((r2 - na * (na + 1)) - na * nb) / (2 * var**0.5), 6
    )


def test_ks_python_twin(spark):
    import numpy as np
    import pandas as pd

    from __spark_entry__ import q_value_ks_test

    r = q_value_ks_test(spark, "/root/testdata/sf0.001").collect()[0]
    pdf = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    pdf = pdf[pdf["event_type"].isin(["purchase", "click"])]
    cents = (pdf["value"] * 100).round().astype("int64")
    a = np.sort(cents[pdf["event_type"] == "purchase"].to_numpy())
    b = np.sort(cents[pdf["event_type"] == "click"].to_numpy())
    grid = np.unique(np.concatenate([a, b]))
    ca = np.searchsorted(a, grid, side="right")
    cb = np.searchsorted(b, grid, side="right")
    d = np.abs(ca * len(b) - cb * len(a))
    assert (r.n_a, r.n_b) == (len(a), len(b))
    assert r.d_num == int(d.max())
    assert r.at_x == int(grid[np.argmax(d)])  # argmax = first/smallest
    assert r.ks_d == round(int(d.max()) / (len(a) * len(b)), 6)
    # KS distance is a probability distance: 0 < D <= 1
    assert 0.0 < r.ks_d <= 1.0


def test_mann_kendall_python_twin(spark):
    import pandas as pd

    from __spark_entry__ import q_value_mk_trend

    rows = {
        r.event_type: r
        for r in q_value_mk_trend(spark, "/root/testdata/sf0.001").collect()
    }
    pdf = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    pdf["day"] = pd.to_datetime(pdf["ts"]).dt.floor("D")
    pdf["cents"] = (pdf["value"] * 100).round().astype("int64")
    for et, g in pdf.groupby("event_type"):
        srs = g.groupby("day")["cents"].sum().sort_index().to_list()
        n = len(srs)
        s = sum(
            (srs[j] > srs[i]) - (srs[j] < srs[i])
            for i in range(n)
            for j in range(i + 1, n)
        )
        from collections import Counter

        tie18 = sum(
            t * (t - 1) * (2 * t + 5) for t in Counter(srs).values()
        )
        var18 = n * (n - 1) * (2 * n + 5) - tie18
        r = rows[et]
        assert (r.n, r.s_stat, r.var18) == (n, s, var18)
        if var18 > 0:
            assert r.z_stat == round(s / (var18 / 18.0) ** 0.5, 6)


def test_mann_kendall_monotone_series(spark):
    from deepie_spark.operators.stats import mann_kendall

    n = 40
    df = spark.createDataFrame(
        [("g", i, 10 * i + 3) for i in range(n)], "g string, o int, y int"
    )
    r = mann_kendall(df, "g", "o", "y").collect()[0]
    # strictly increasing, no ties: S = n(n−1)/2, var18 full
    assert r.s_stat == n * (n - 1) // 2
    assert r.var18 == n * (n - 1) * (2 * n + 5)
    assert r.z_stat > 5.0


def test_acf_python_twin(spark):
    import numpy as np
    import pandas as pd

    from __spark_entry__ import q_events_acf

    rows = {r.lag: r for r in q_events_acf(spark, "/root/testdata/sf0.001").collect()}
    pdf = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    hs = (pd.to_datetime(pdf["ts"]).astype("datetime64[ns]").astype("int64")
          // 10**9 // 3600).to_numpy()
    lo, hi = hs.min(), hs.max()
    y = np.bincount(hs - lo, minlength=hi - lo + 1).astype("int64")
    for k in range(1, 7):
        a, b = y[:-k], y[k:]
        r = rows[k]
        assert (r.n, r.sx, r.sy) == (len(a), int(a.sum()), int(b.sum()))
        assert (r.sxx, r.syy, r.sxy) == (
            int((a * a).sum()),
            int((b * b).sum()),
            int((a * b).sum()),
        )
        n = len(a)
        num = float(n * int((a * b).sum()) - int(a.sum()) * int(b.sum()))
        vx = n * int((a * a).sum()) - int(a.sum()) ** 2
        vy = n * int((b * b).sum()) - int(b.sum()) ** 2
        if vx and vy:
            assert r.acf == round(num / (float(vx) ** 0.5 * float(vy) ** 0.5), 6)
        # ACF is a correlation: |r| <= 1
        assert r.acf is None or abs(r.acf) <= 1.0


def test_cusum_planted_shift(spark):
    from deepie_spark.operators.stats import cusum_changepoint

    # level 10 for 50 bins then level 40: argmax must sit at the shift
    rows = [(i, 10) for i in range(1, 51)] + [(i, 40) for i in range(51, 101)]
    df = spark.createDataFrame(rows, "idx long, y long")
    r = cusum_changepoint(df, "idx", "y").collect()[0]
    assert (r.n, r.total) == (100, 50 * 10 + 50 * 40)
    assert r.at_idx == 50
    # exact witness: g at k=50 is |100*500 - 50*2500|
    assert r.g_num == abs(100 * 500 - 50 * 2500)
    assert r.cusum_norm == round(r.g_num / (100 * 2500), 6)


def test_cusum_python_twin(spark):
    import numpy as np
    import pandas as pd

    from __spark_entry__ import q_events_cusum

    r = q_events_cusum(spark, "/root/testdata/sf0.001").collect()[0]
    pdf = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    hs = (pd.to_datetime(pdf["ts"]).astype("datetime64[ns]").astype("int64")
          // 10**9 // 3600).to_numpy()
    lo, hi = hs.min(), hs.max()
    y = np.bincount(hs - lo, minlength=hi - lo + 1).astype("int64")
    n, total = len(y), int(y.sum())
    cs = np.cumsum(y)
    g = np.abs(n * cs - np.arange(1, n + 1) * total)
    assert (r.n, r.total) == (n, total)
    assert r.g_num == int(g.max())
    assert r.at_idx == int(np.argmax(g)) + 1  # numpy argmax = first


def test_kaplan_meier_hand_case(spark):
    import math

    from deepie_spark.operators.stats import kaplan_meier

    # classic toy: durations 1,1,2,3+,4 (3 censored at t=3)
    rows = [(1, 1), (1, 1), (2, 1), (3, 0), (4, 1)]
    df = spark.createDataFrame(rows, "dur long, ev long")
    out = {r.t: r for r in kaplan_meier(df, "dur", "ev").collect()}
    # t=1: n=5, d=2 ; t=2: n=3, d=1 ; t=3: n=2, d=0 (censor only) ;
    # t=4: n=1, d=1 -> absorbed
    assert (out[1].n_risk, out[1].d_deaths, out[1].c_censored) == (5, 2, 0)
    assert (out[2].n_risk, out[2].d_deaths) == (3, 1)
    assert (out[3].n_risk, out[3].d_deaths, out[3].c_censored) == (2, 0, 1)
    assert (out[4].n_risk, out[4].d_deaths) == (1, 1)
    assert out[4].term_fp is None and out[4].absorbed == 1
    assert out[3].absorbed == 0
    S = float(1 << 40)
    t1 = math.floor((math.log(3) - math.log(5)) * S)
    t2 = math.floor((math.log(2) - math.log(3)) * S)
    t3 = math.floor((math.log(2) - math.log(2)) * S)
    assert out[1].term_fp == t1 and out[2].term_fp == t2
    assert out[3].term_fp == t3 == 0
    assert out[3].surv_fp == t1 + t2 + t3
    # survival after t=2 recovers the exact product 3/5 * 2/3 = 0.4
    assert abs(math.exp(out[2].surv_fp / S) - 0.4) < 1e-9


def test_km_query_counts(spark):
    import pandas as pd

    from __spark_entry__ import q_user_survival_km

    out = q_user_survival_km(spark, "/root/testdata/sf0.001").collect()
    pdf = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    pdf["day"] = pd.to_datetime(pdf["ts"]).dt.floor("D")
    g = pdf.groupby("user_id")["day"].agg(["min", "max"])
    maxd = g["max"].max()
    dur = (g["max"] - g["min"]).dt.days
    ev = (g["max"] < maxd).astype(int)
    import collections

    per = collections.Counter(zip(dur, ev))
    n_users = len(g)
    # at-risk counts and death counts match the pandas twin
    for r in out:
        assert r.d_deaths == per.get((r.t, 1), 0)
        assert r.c_censored == per.get((r.t, 0), 0)
        assert r.n_risk == sum(
            c for (t, _), c in per.items() if t >= r.t
        )
    assert sum(r.d_deaths + r.c_censored for r in out) == n_users


def test_trimmed_mean_python_twin(spark):
    import math

    import pandas as pd

    from __spark_entry__ import q_value_trimmed_mean

    r = q_value_trimmed_mean(spark, "/root/testdata/sf0.001").collect()[0]
    pdf = pd.read_parquet("/root/testdata/sf0.001/orders.parquet")
    cents = sorted(
        (math.floor(v * 100), k)
        for k, v in zip(pdf["o_orderkey"], pdf["o_totalprice"])
    )
    n = len(cents)
    k = n // 10
    kept = [c for c, _ in cents[k : n - k]]
    assert (r.n, r.n_kept, r.kept_sum) == (n, len(kept), sum(kept))
    assert r.trimmed_mean == round(sum(kept) / len(kept), 6)
    # the trim is a real 10% each side
    assert r.n_kept == n - 2 * (n // 10)


def test_audience_overlap_python_twin(spark):
    import pandas as pd

    from __spark_entry__ import q_audience_overlap

    rows = q_audience_overlap(spark, "/root/testdata/sf0.001").collect()
    pdf = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    sets = {
        t: set(g["user_id"]) for t, g in pdf.groupby("event_type")
    }
    types = sorted(sets)
    want = []
    for i, a in enumerate(types):
        for b in types[i + 1 :]:
            common = len(sets[a] & sets[b])
            if common:
                want.append(
                    (
                        a,
                        b,
                        len(sets[a]),
                        len(sets[b]),
                        common,
                        round(
                            common
                            / (len(sets[a]) + len(sets[b]) - common),
                            6,
                        ),
                    )
                )
    got = [
        (r.type_a, r.type_b, r.n_a, r.n_b, r.common, r.jaccard)
        for r in rows
    ]
    assert got == want


def test_theilsen_python_twin_and_robustness(spark):
    import math

    from deepie_spark.operators.stats import theil_sen_slope

    # clean slope 7 with two gross outliers; OLS would be dragged,
    # Theil-Sen must stay at 7
    rows = [("g", i, 7 * i + 100) for i in range(30)]
    rows[5] = ("g", 5, 100000)
    rows[20] = ("g", 20, -50000)
    df = spark.createDataFrame(rows, "g string, o int, y int")
    r = theil_sen_slope(df, "g", "o", "y").collect()[0]
    S = float(1 << 20)
    slopes = sorted(
        math.floor((rows[j][2] - rows[i][2]) / (j - i) * S)
        for i in range(30)
        for j in range(i + 1, 30)
    )
    k = (len(slopes) + 1) // 2
    assert r.n_pairs == len(slopes)
    assert r.slope_fp == slopes[k - 1]
    assert abs(r.theil_sen - 7.0) < 0.01


def test_token_burstiness_twin(spark):
    from collections import Counter

    import pandas as pd

    from __spark_entry__ import q_token_burstiness
    from deepie_spark.functions.text import py_tokenize

    rows = {r.token: r for r in q_token_burstiness(spark, "/root/testdata/sf0.001").collect()}
    pdf = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
    per_tok = {}
    for _, row in pdf.iterrows():
        for t, c in Counter(py_tokenize(row["text"])).items():
            df_, tf, sc2 = per_tok.get(t, (0, 0, 0))
            per_tok[t] = (df_ + 1, tf + c, sc2 + c * c)
    n = len(pdf)
    want = {
        t: v for t, v in per_tok.items() if v[0] >= 20
    }
    assert set(rows) == set(want)
    for t, (df_, tf, sc2) in want.items():
        r = rows[t]
        assert (r.df, r.tf, r.sc2, r.n_docs) == (df_, tf, sc2, n)
        assert r.fano == round(sc2 / tf - tf / n, 6)


def test_jarque_bera_python_twin(spark):
    import math

    import numpy as np

    from deepie_spark.operators.stats import jarque_bera

    rng = np.random.RandomState(7)
    xs = [int(v) for v in rng.exponential(150, size=400)]
    df = spark.createDataFrame([(v,) for v in xs], ["x"])
    r = jarque_bera(df, "x").collect()[0]
    n = len(xs)
    s1, s2 = sum(xs), sum(v * v for v in xs)
    s3 = sum(v**3 for v in xs)
    s4 = sum(v**4 for v in xs)
    assert (r.n, r.s1, r.s2, r.s3, r.s4) == (n, s1, s2, s3, s4)
    m = s1 / n
    m2 = s2 / n - m * m
    m3 = s3 / n - 3.0 * m * (s2 / n) + 2.0 * m * m * m
    m4 = (
        s4 / n
        - 4.0 * m * (s3 / n)
        + 6.0 * (m * m) * (s2 / n)
        - 3.0 * (m * m * m * m)
    )
    skew = m3 / (m2 * math.sqrt(m2))
    kurt = m4 / (m2 * m2)
    jb = (n / 6.0) * (skew * skew + (kurt - 3.0) * (kurt - 3.0) / 4.0)
    assert r.skewness == round(skew, 6)
    assert r.kurtosis == round(kurt, 6)
    assert r.jb_stat == round(jb, 6)
    # exponential data: strongly right-skewed, heavy JB
    assert r.skewness > 1.0 and r.jb_stat > 50.0


def test_jarque_bera_degenerate_and_symmetric(spark):
    from deepie_spark.operators.stats import jarque_bera

    const = spark.createDataFrame([(5,), (5,), (5,)], ["x"])
    r = jarque_bera(const, "x").collect()[0]
    assert r.jb_stat is None and r.skewness is None
    # exactly symmetric sample -> skewness exactly 0
    sym = spark.createDataFrame(
        [(v,) for v in (-2, -1, -1, 0, 0, 0, 1, 1, 2)], ["x"]
    )
    r = jarque_bera(sym, "x").collect()[0]
    assert r.skewness == 0.0


def test_brown_forsythe_python_twin(spark):
    import numpy as np

    from deepie_spark.operators.stats import brown_forsythe

    rng = np.random.RandomState(11)
    groups = {
        "a": [int(v) for v in rng.normal(500, 20, size=151)],
        "b": [int(v) for v in rng.normal(500, 90, size=180)],
        "c": [int(v) for v in rng.normal(500, 55, size=163)],
    }
    rows = [(g, v) for g, xs in groups.items() for v in xs]
    df = spark.createDataFrame(rows, ["g", "x"])
    r = brown_forsythe(df, "g", "x").collect()[0]

    # python twin: doubled |x - med| deviations, same fixed-point F
    def med2(xs):
        s = sorted(xs)
        n = len(s)
        if n % 2:
            return 2 * s[n // 2]
        return s[n // 2 - 1] + s[n // 2]

    devs = {
        g: [abs(2 * v - med2(xs)) for v in xs]
        for g, xs in groups.items()
    }
    k = len(devs)
    n = sum(len(d) for d in devs.values())
    s = sum(sum(d) for d in devs.values())
    sxx = sum(v * v for d in devs.values() for v in d)
    ssb_fp = sum(
        int(
            np.floor(
                (sum(d) * sum(d)) / len(d) * float(1 << 20)
            )
        )
        for d in devs.values()
    )
    assert (r.k, r.n, r.s, r.sxx, r.ssb_fp) == (k, n, s, sxx, ssb_fp)
    ssb = ssb_fp / float(1 << 20) - (s * s) / n
    ssw = sxx - ssb_fp / float(1 << 20)
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert r.f_stat == round(f, 6)
    # planted heteroscedasticity (sigma 20 vs 90) => large F
    assert r.f_stat > 10.0


def test_brown_forsythe_equal_variances_small_f(spark):
    import numpy as np

    from deepie_spark.operators.stats import brown_forsythe

    rng = np.random.RandomState(3)
    rows = [
        (g, int(v))
        for g in ("a", "b", "c")
        for v in rng.normal(500, 50, size=300)
    ]
    df = spark.createDataFrame(rows, ["g", "x"])
    r = brown_forsythe(df, "g", "x").collect()[0]
    # same spread in every group: F should sit near 1
    assert r.f_stat is not None and r.f_stat < 3.0


def test_collocations_llr_hand_corpus(spark):
    import math

    from deepie_spark.operators.skipgram import collocations_llr

    docs = spark.createDataFrame(
        [("hot dog hot dog hot dog hot dog hot dog cat dog hot cat",)],
        ["text"],
    )
    out = {
        (r.x, r.y): r
        for r in collocations_llr(docs, min_count=2).collect()
    }
    # 13 bigrams: hot->dog x5, dog->hot x5, dog->cat, cat->dog,
    # hot->cat
    r = out[("hot", "dog")]
    assert (r.f_xy, r.r_x, r.c_y, r.n_bigrams) == (5, 6, 6, 13)

    def g2(k11, rr, cc, nn):
        tot = 0.0
        for k, ri, ci in (
            (k11, rr, cc),
            (rr - k11, rr, nn - cc),
            (cc - k11, nn - rr, cc),
            (nn - rr - cc + k11, nn - rr, nn - cc),
        ):
            if k > 0:
                tot += k * (math.log(k * nn) - math.log(ri * ci))
        return 2.0 * tot
    assert r.g2 == round(g2(5, 6, 6, 13), 6)
    # min_count filters the singleton pairs out
    assert set(out) == {("hot", "dog"), ("dog", "hot")}
    # unfiltered run: the systematic pair scores above the one-off
    # (marginals are computed BEFORE the min_count cut, so the
    # surviving rows are identical across the two runs)
    all_out = {
        (r.x, r.y): r
        for r in collocations_llr(docs, min_count=1).collect()
    }
    assert all_out[("hot", "dog")].g2 == r.g2
    assert all_out[("hot", "dog")].g2 > all_out[("cat", "dog")].g2


def test_powerlaw_alpha_mle_python_twin(spark):
    import math

    import numpy as np

    from deepie_spark.operators.stats import powerlaw_alpha_mle

    rng = np.random.RandomState(29)
    xs = [int(v) for v in rng.zipf(2.5, 500).clip(1, 100000)]
    df = spark.createDataFrame([(v,) for v in xs], ["x"])
    r = powerlaw_alpha_mle(df, "x", x_min=5).collect()[0]
    tail = [v for v in xs if v >= 5]
    SC = float(1 << 20)
    sfp = sum(math.floor(math.log(v) * SC) for v in tail)
    assert (r.n_tail, r.sum_ln_fp) == (len(tail), sfp)
    denom = sfp / SC - len(tail) * math.log(5)
    alpha = 1.0 + len(tail) / denom
    assert r.alpha == round(alpha, 6)
    assert r.alpha_se == round((alpha - 1.0) / math.sqrt(len(tail)), 6)
    # planted Zipf(2.5): the MLE should land in a sane band
    assert 1.5 < r.alpha < 4.0

    import pytest as _pt

    with _pt.raises(ValueError):
        powerlaw_alpha_mle(df, "x", x_min=0)
    # empty tail -> NULL alpha
    r = powerlaw_alpha_mle(df, "x", x_min=10**9).collect()[0]
    assert r.n_tail == 0 and r.alpha is None


def test_two_prop_ztest_python_twin(spark):
    import math

    rows = (
        [("a", 1)] * 40 + [("a", 0)] * 60
        + [("b", 1)] * 25 + [("b", 0)] * 75
        + [("c", 1)] * 5  # excluded group
    )
    from deepie_spark.operators.stats import two_prop_ztest

    df = spark.createDataFrame(rows, ["g", "cv"])
    r = two_prop_ztest(df, "g", "cv", "a", "b").collect()[0]
    assert (r.n_a, r.x_a, r.n_b, r.x_b) == (100, 40, 100, 25)
    p = 65 / 200
    z = (0.40 - 0.25) / math.sqrt(p * (1 - p) * (1 / 100 + 1 / 100))
    assert r.z_stat == round(z, 6)
    assert r.p_a == 0.4 and r.p_b == 0.25
    # degenerate: all successes -> NULL
    allsucc = spark.createDataFrame(
        [("a", 1)] * 5 + [("b", 1)] * 5, ["g", "cv"]
    )
    r = two_prop_ztest(allsucc, "g", "cv", "a", "b").collect()[0]
    assert r.z_stat is None


def test_roc_auc_python_twin(spark):
    import numpy as np

    from deepie_spark.operators.stats import roc_auc

    rng = np.random.RandomState(19)
    rows = [(int(rng.randint(0, 50)), 1) for _ in range(80)] + [
        (int(rng.randint(0, 40)), 0) for _ in range(120)
    ]
    df = spark.createDataFrame(rows, ["s", "y"])
    r = roc_auc(df, "s", "y").collect()[0]
    pos = [s for s, y in rows if y == 1]
    neg = [s for s, y in rows if y == 0]
    # pairwise definition with half-credit ties
    num = sum(
        1.0 if p > n else (0.5 if p == n else 0.0)
        for p in pos
        for n in neg
    )
    assert (r.n_pos, r.n_neg) == (len(pos), len(neg))
    assert r.auc == round(num / (len(pos) * len(neg)), 6)


def test_roc_auc_extremes(spark):
    from deepie_spark.operators.stats import roc_auc

    perfect = spark.createDataFrame(
        [(10, 1), (9, 1), (2, 0), (1, 0)], ["s", "y"]
    )
    assert roc_auc(perfect, "s", "y").collect()[0].auc == 1.0
    inverted = spark.createDataFrame(
        [(1, 1), (2, 1), (9, 0), (10, 0)], ["s", "y"]
    )
    assert roc_auc(inverted, "s", "y").collect()[0].auc == 0.0
    all_tied = spark.createDataFrame([(5, 1), (5, 0)], ["s", "y"])
    assert roc_auc(all_tied, "s", "y").collect()[0].auc == 0.5
    one_class = spark.createDataFrame([(5, 1), (6, 1)], ["s", "y"])
    assert roc_auc(one_class, "s", "y").collect()[0].auc is None


def test_effect_sizes_match_definitions(spark):
    """Hand-checkable two-group fixture: d/g from the textbook pooled-
    SD formula, Cliff's delta from brute-force pair dominance counts,
    rank_biserial = -delta; NULL d on a zero-variance degenerate."""
    import math

    from deepie_spark.operators.stats import effect_sizes

    xa = [10, 12, 14, 14, 20]
    xb = [8, 9, 10, 13]
    rows = [("a", v) for v in xa] + [("b", v) for v in xb]
    df = spark.createDataFrame(rows, "g string, x long")
    r = effect_sizes(df, "g", "x", "a", "b").collect()[0]
    na, nb = len(xa), len(xb)
    ma, mb = sum(xa) / na, sum(xb) / nb
    ssd = sum((v - ma) ** 2 for v in xa) + sum((v - mb) ** 2 for v in xb)
    d = (ma - mb) / math.sqrt(ssd / (na + nb - 2))
    gt = sum(1 for p in xa for q in xb if p > q)
    lt = sum(1 for p in xa for q in xb if p < q)
    assert r["n_a"] == na and r["n_b"] == nb
    assert abs(r["cohens_d"] - d) < 1e-6
    assert abs(r["hedges_g"] - d * (1 - 3 / (4 * (na + nb) - 9))) < 1e-6
    assert r["cliffs_delta"] == round((gt - lt) / (na * nb), 6)
    assert r["rank_biserial"] == -r["cliffs_delta"]
    # degenerate: all values tied in both groups -> NULL d/g, delta 0
    flat = spark.createDataFrame(
        [("a", 5), ("a", 5), ("b", 5), ("b", 5)], "g string, x long"
    )
    r0 = effect_sizes(flat, "g", "x", "a", "b").collect()[0]
    assert r0["cohens_d"] is None and r0["hedges_g"] is None
    assert r0["cliffs_delta"] == 0.0


def test_markov_entropy_rate_deterministic_chain_zero(spark):
    """A fully deterministic chain (a->b->a->b...) has H = 0."""
    from datetime import datetime, timedelta

    from deepie_spark.operators.stats import markov_entropy_rate

    rows = [
        (1, datetime(2026, 3, 1) + timedelta(minutes=i), i,
         "a" if i % 2 == 0 else "b")
        for i in range(10)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    r = markov_entropy_rate(
        df, "user_id", "event_type", ["ts", "event_id"]
    ).collect()[0]
    assert r.n_transitions == 9 and r.n_pairs == 2 and r.n_states == 2
    assert r.h_fp == 0 and r.h_rate_nats == 0.0


def test_markov_entropy_rate_python_twin(spark):
    """Random chains vs the plug-in formula with the same fixed-point
    quantization; uniform 2-state chain approaches ln 2."""
    import math
    import random
    from datetime import datetime, timedelta

    from deepie_spark.operators.stats import markov_entropy_rate

    rng = random.Random(5)
    rows = []
    eid = 0
    for u in range(6):
        for _ in range(rng.randint(5, 40)):
            rows.append(
                (u, datetime(2026, 3, 2) + timedelta(seconds=eid), eid,
                 rng.choice("abc"))
            )
            eid += 1
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    # python twin with identical chain order
    from collections import Counter, defaultdict

    trans = Counter()
    byu = defaultdict(list)
    for u, ts, eid_, t in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        byu[u].append(t)
    for seq in byu.values():
        for a, b in zip(seq, seq[1:]):
            trans[(a, b)] += 1
    ci = Counter()
    for (a, _), n in trans.items():
        ci[a] += n
    n_tr = sum(trans.values())
    h_fp = sum(
        math.floor(
            float(1 << 20)
            * ((float(n) * (math.log(float(ci[a])) - math.log(float(n))))
               / float(n_tr))
        )
        for (a, _), n in trans.items()
    )
    r = markov_entropy_rate(
        df, "user_id", "event_type", ["ts", "event_id"]
    ).collect()[0]
    assert r.h_fp == h_fp and r.n_transitions == n_tr
    # sanity: 3-symbol iid stream is near ln 3, never above
    assert 0 < r.h_rate_nats <= math.log(3.0) + 1e-9


def test_pairwise_series_corr_planted(spark):
    """Identical count series -> r = 1; anti-phase series -> r = -1;
    the densified grid counts absent buckets as zero."""
    from deepie_spark.operators.stats import pairwise_series_corr

    rows = []
    for day in range(6):
        rows += [(f"d{day}", "a")] * (day + 1)
        rows += [(f"d{day}", "b")] * (day + 1)       # b == a -> r = 1
        rows += [(f"d{day}", "c")] * (6 - day)       # anti-phase
        if day == 0:
            rows += [(f"d{day}", "sparse")] * 3      # only day 0
    df = spark.createDataFrame(rows, "t string, s string")
    got = {(r.series_a, r.series_b): r
           for r in pairwise_series_corr(df, "t", "s").collect()}
    assert got[("a", "b")].pearson_r == 1.0
    assert got[("a", "c")].pearson_r == -1.0
    sp = got[("a", "sparse")]
    assert sp.n_t == 6 and sp.sum_a == 21 and sp.sum_b == 3


def test_pettitt_identity_vs_direct_double_sum(spark):
    """The midrank identity U_t = t(n+1) - W2_t equals the direct
    double sum Σ_{i<=t, j>t} sgn(x_j - x_i) on a tied, shifted
    series; the argmax lands at the planted shift."""
    from deepie_spark.operators.stats import pettitt_test

    xs = [3, 3, 4, 2, 3, 9, 8, 9, 9, 7, 8]   # shift after idx 5
    df = spark.createDataFrame(
        [(i + 1, x) for i, x in enumerate(xs)], "idx long, y long"
    )
    got = {r.t: r for r in pettitt_test(df, "idx", "y").collect()}
    n = len(xs)
    assert set(got) == set(range(1, n))

    def sgn(v):
        return (v > 0) - (v < 0)

    for t in range(1, n):
        direct = sum(
            sgn(xs[j] - xs[i]) for i in range(t) for j in range(t, n)
        )
        assert got[t].u_t == direct
    k = max(abs(r.u_t) for r in got.values())
    assert all(r.k_stat == k for r in got.values())
    assert got[5].is_changepoint and got[5].t_star == 5


def test_pettitt_constant_series_zero(spark):
    from deepie_spark.operators.stats import pettitt_test

    df = spark.createDataFrame(
        [(i + 1, 7) for i in range(6)], "idx long, y long"
    )
    rows = pettitt_test(df, "idx", "y").collect()
    assert all(r.u_t == 0 and r.k_stat == 0 for r in rows)


def test_diff_in_diff_planted_effect(spark):
    """Planted parallel trends with a +2 treated post-bump; the DiD
    recovers exactly 2.0; above-mean exposure splits a dense
    stream."""
    from datetime import datetime, timedelta

    from deepie_spark.operators.stats import diff_in_diff

    t0 = datetime(2026, 5, 1)
    rows = []
    eid = 0

    def add(u, day, et, k=1):
        nonlocal eid
        for _ in range(k):
            rows.append((u, t0 + timedelta(days=day, seconds=eid), et))
            eid += 1

    # span day 0..10, midpoint day 5
    for u in (1, 2):            # heavy clickers (treated)
        add(u, 0, "click", 5)
        add(u, 1, "purchase", 1)     # pre outcome 1
        add(u, 9, "purchase", 4)     # post outcome 4 (+1 trend +2 fx)
    for u in (3, 4):            # light clickers (control)
        add(u, 0, "click", 1)
        add(u, 1, "purchase", 1)     # pre outcome 1
        add(u, 9, "purchase", 2)     # post outcome 2 (+1 trend)
    add(99, 10, "view")         # pins the max epoch; user 99 control
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, "
                                     "event_type string")
    r = diff_in_diff(df).collect()[0]
    assert r.n_t == 2 and r.n_c == 3
    # treated: 4-1 = 3; control: (2+2+0)/3 - (1+1+0)/3 = 2/3
    assert r.did == round(3 - 2 / 3, 6)


def test_postings_compression_hand(spark):
    from deepie_spark.operators.retrieval import postings_compression

    rows = (
        [("a", d) for d in (0, 1, 2, 3)]          # gaps 1,1,1,1
        + [("b", d) for d in (10, 300, 20000)]    # 11, 290, 19700
        + [("c", 300000)]                         # 300001 -> 3 bytes
    )
    df = spark.createDataFrame(rows, "token string, doc_id long")
    got = {r.token: r for r in postings_compression(df).collect()}
    assert got["a"].varint_bytes == 4 and got["a"].raw_bytes == 32
    assert got["b"].varint_bytes == 1 + 2 + 3
    assert got["c"].varint_bytes == 3
    assert got["a"].compression_ratio == round(4 / 32, 6)


def test_ab_srm_check_columns_and_verdict(spark):
    """Bucket counts add up; the integer verdict matches the chi2."""
    import __spark_entry__ as entry

    r = entry.q_ab_srm_check(spark, "/root/testdata/sf0.001").collect()[0]
    assert r.n_a + r.n_b == r.n_users
    d = r.n_a - r.n_b
    assert r.chi2 == round(d * d / r.n_users, 6)
    assert r.srm_pass == (1000 * d * d < 3841 * r.n_users)


def test_cuped_hand_vs_python(spark):
    """theta/rho2 match a direct covariance computation."""
    from deepie_spark.operators.stats import cuped_adjustment

    rows = [(1, 10, 12), (2, 20, 18), (3, 30, 33), (4, 40, 41)]
    df = spark.createDataFrame(rows, "u long, pre long, post long")
    r = cuped_adjustment(df, "pre", "post").collect()[0]
    n = len(rows)
    xs = [p for _, p, _ in rows]
    ys = [q for _, _, q in rows]
    cov = n * sum(x * y for _, x, y in rows) - sum(xs) * sum(ys)
    vx = n * sum(x * x for x in xs) - sum(xs) ** 2
    vy = n * sum(y * y for y in ys) - sum(ys) ** 2
    assert r.n_units == n and r.sx == sum(xs) and r.sy == sum(ys)
    assert r.theta == round(cov / vx, 6)
    assert r.var_reduction == round((cov / vx) * (cov / vy), 6)
    assert 0.9 < r.var_reduction <= 1.0  # strongly correlated toy


def test_cuped_degenerate_pre_variance(spark):
    """Constant pre-covariate yields NULL theta, not a crash."""
    from deepie_spark.operators.stats import cuped_adjustment

    df = spark.createDataFrame(
        [(1, 5, 10), (2, 5, 20)], "u long, pre long, post long"
    )
    r = cuped_adjustment(df, "pre", "post").collect()[0]
    assert r.theta is None and r.var_reduction is None


def test_pooled_mde_hand(spark):
    """MDE matches the textbook formula on a toy two-group design."""
    import math

    from deepie_spark.operators.stats import pooled_mde

    a = [10, 12, 14, 16]
    b = [11, 13, 15]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, x long")
    r = pooled_mde(df, "g", "x", "a", "b").collect()[0]
    na, nb = len(a), len(b)
    m2a = na * sum(v * v for v in a) - sum(a) ** 2
    m2b = nb * sum(v * v for v in b) - sum(b) ** 2
    s2 = (m2a / na + m2b / nb) / (na + nb - 2)
    z = 1.959963984540054 + 0.8416212335729143
    mde = z * math.sqrt(s2 * (1.0 / na + 1.0 / nb))
    assert (r.n_a, r.n_b) == (na, nb)
    assert r.s2_pooled == round(s2, 6)
    assert r.mde_abs == round(mde, 6)
    assert r.mde_rel == round(
        mde / ((sum(a) + sum(b)) / (na + nb)), 6
    )


def test_yule_characteristic_hand(spark):
    from deepie_spark.operators.stats import yule_characteristic

    toks = ["a", "a", "a", "b", "b", "c"]  # f = 3,2,1; N=6; Σf²=14
    df = spark.createDataFrame([(t,) for t in toks], ["token"])
    row = yule_characteristic(df, "token").collect()[0]
    assert row["n_tokens"] == 6
    assert row["n_types"] == 3
    assert row["sum_f2"] == 14
    assert row["yule_k"] == round(1e4 * (14 - 6) / 36, 6)


def test_cronbach_alpha_vs_numpy(spark):
    import numpy as np

    from deepie_spark.operators.stats import cronbach_alpha

    # 4 subjects x 3 items with one missing cell (== 0 score)
    rows = [
        ("s1", "i1", 2), ("s1", "i2", 3), ("s1", "i3", 4),
        ("s2", "i1", 1), ("s2", "i2", 2), ("s2", "i3", 2),
        ("s3", "i1", 4), ("s3", "i2", 4), ("s3", "i3", 5),
        ("s4", "i1", 0), ("s4", "i2", 1),  # i3 missing -> 0
    ]
    df = spark.createDataFrame(rows, ["subj", "item", "x"])
    row = cronbach_alpha(df, "subj", "item", "x").collect()[0]
    m = np.array(
        [[2, 3, 4], [1, 2, 2], [4, 4, 5], [0, 1, 0]], dtype=float
    )
    k = 3
    item_var = m.var(axis=0, ddof=0).sum()
    tot_var = m.sum(axis=1).var(ddof=0)
    alpha = k / (k - 1) * (1 - item_var / tot_var)
    assert row["n_subjects"] == 4 and row["k_items"] == 3
    assert row["alpha"] == pytest.approx(alpha, abs=1e-6)


def test_permutation_entropy_hand(spark):
    import math

    from deepie_spark.operators.stats import permutation_entropy

    # one series: 1,2,3,2,1 -> windows (1,2,3)=123, (2,3,2)=132,
    # (3,2,1)=321
    rows = [("k", i, float(v)) for i, v in enumerate([1, 2, 3, 2, 1])]
    df = spark.createDataFrame(rows, ["g", "pos", "v"])
    row = permutation_entropy(df, "g", ["pos"], "v").collect()[0]
    assert row["n_windows"] == 3
    assert row["n_patterns"] == 3  # 123, 132, 321 each once
    # all counts 1 -> Σ c ln c = 0 -> H = ln 3
    assert row["sum_clnc_fp"] == 0
    assert row["perm_h"] == pytest.approx(math.log(3), abs=1e-6)


def test_permutation_entropy_tie_break_by_position(spark):
    from deepie_spark.operators.stats import permutation_entropy

    # constant series: every window is the stable pattern 123
    rows = [("k", i, 7.0) for i in range(5)]
    df = spark.createDataFrame(rows, ["g", "pos", "v"])
    got = permutation_entropy(df, "g", ["pos"], "v").collect()[0]
    assert got["n_patterns"] == 1
    assert got["perm_h"] == 0.0


def test_holt_linear_matches_float_recursion(spark):
    from deepie_spark.operators.stats import holt_linear

    ys = [10, 12, 15, 11, 9, 14, 20, 18, 17, 13, 12, 16, 19, 21, 22, 25]
    df = spark.createDataFrame(
        [(i, y) for i, y in enumerate(ys)], ["bin", "y"]
    )
    row = holt_linear(df, "bin", "y", 16).collect()[0]
    l, b = float(ys[0]), 0.0
    for y in ys[1:]:
        l_new = (y + l + b) / 2.0
        b = (l_new - l + b) / 2.0
        l = l_new
    # dyadic-exact: the scaled longs reproduce the float recursion
    assert row["scale_den"] == 4 ** 15
    assert row["level_num"] / row["scale_den"] == l
    assert row["trend_num"] / row["scale_den"] == b
    assert row["forecast_1"] == round(l + b, 6)


def test_holt_linear_missing_bins_are_zero(spark):
    from deepie_spark.operators.stats import holt_linear

    # only bin 0 present -> all later y = 0; level decays dyadically
    df = spark.createDataFrame([(0, 8)], ["bin", "y"])
    row = holt_linear(df, "bin", "y", 4).collect()[0]
    l, b = 8.0, 0.0
    for _ in range(3):
        l_new = (0 + l + b) / 2.0
        b = (l_new - l + b) / 2.0
        l = l_new
    assert row["level_num"] / row["scale_den"] == l
    assert row["trend_num"] / row["scale_den"] == b


def test_events_dw_hand_series(spark):
    import __spark_entry__ as entry

    got = {r["event_type"]: r
           for r in entry.q_events_dw(
               spark, "/root/testdata/sf0.01").collect()}
    assert set(got) == {"click", "view", "signup", "purchase", "error"}
    for r in got.values():
        # DW of a stationary counting series lives in (0, 4)
        assert 0.0 < r["dw"] < 4.0
        assert r["n_bins"] == 32 and r["sum_d2"] > 0


def test_durbin_watson_formula_small(spark):
    """Cross-check the n-scaled integer DW against plain-float DW."""
    from pyspark.sql import functions as F

    ys = [3, 1, 4, 1, 5, 9, 2, 6]
    n = len(ys)
    mean = sum(ys) / n
    e = [y - mean for y in ys]
    dw_want = sum((e[i] - e[i - 1]) ** 2 for i in range(1, n)) / sum(
        x * x for x in e
    )
    d = [n * y - sum(ys) for y in ys]
    dw_int = sum((d[i] - d[i - 1]) ** 2 for i in range(1, n)) / sum(
        x * x for x in d
    )
    assert abs(dw_int - dw_want) < 1e-12


def test_mood_median_test_vs_scipy_style(spark):
    from deepie_spark.operators.stats import mood_median_test

    rows = (
        [("a", v) for v in [1, 2, 3, 4, 10, 11]]
        + [("b", v) for v in [5, 6, 7, 8, 9, 12]]
    )
    df = spark.createDataFrame(rows, ["g", "x"])
    got = mood_median_test(df, "g", "x").collect()[0]
    # pooled lower median of 1..12 is 6
    assert got["med"] == 6
    # contingency: above-median counts a: 2, b: 4; totals 6/6
    n, = (12,)
    c_above, c_below = 6, 6
    want = 0.0
    for r, above in ((6, 2), (6, 4)):
        for obs, csz in ((above, c_above), (r - above, c_below)):
            num = obs * n - r * csz
            want += num * num / (n * r * csz)
    assert got["chi2"] == pytest.approx(want, abs=5e-6)
    assert got["df"] == 1


def test_runs_test_hand(spark):
    from deepie_spark.operators.stats import runs_test

    # values vs median: + - + - + -  -> 6 runs, n1 = n2 = 3
    seq = [9, 1, 8, 2, 7, 3]
    rows = [("k", i, v) for i, v in enumerate(seq)]
    df = spark.createDataFrame(rows, ["g", "pos", "v"])
    got = runs_test(df, "g", ["pos"], "v").collect()[0]
    # median rule: lower median of {1,2,3,7,8,9} is 3 (2*cum>=n at 3)
    # ties at the median are DROPPED -> n = 5 here
    assert got["n1"] + got["n2"] == 5
    n1, n2, r = got["n1"], got["n2"], got["runs"]
    n = n1 + n2
    mu = 2 * n1 * n2 / n + 1
    var = 2 * n1 * n2 * (2 * n1 * n2 - n) / (n * n * (n - 1))
    assert got["z"] == pytest.approx((r - mu) / var ** 0.5, abs=1e-6)


def test_runs_test_monotone_series_two_runs(spark):
    from deepie_spark.operators.stats import runs_test

    rows = [("k", i, i) for i in range(10)]
    df = spark.createDataFrame(rows, ["g", "pos", "v"])
    got = runs_test(df, "g", ["pos"], "v").collect()[0]
    assert got["runs"] == 2  # all-below then all-above
    assert got["z"] < 0  # far fewer runs than random


def test_mcnemar_hand_table(spark):
    """2×2 cells + both statistics vs the textbook formulas."""
    import pyspark.sql.functions as F

    from deepie_spark.operators.stats import mcnemar_test

    # a, b predictions: n11=3, n10=4, n01=1, n00=2
    rows = (
        [(True, True)] * 3
        + [(True, False)] * 4
        + [(False, True)] * 1
        + [(False, False)] * 2
    )
    df = spark.createDataFrame(rows, ["a", "b"])
    r = mcnemar_test(df, "a", "b").collect()[0]
    assert (r.n11, r.n10, r.n01, r.n00) == (3, 4, 1, 2)
    assert r.chi2 == round((4 - 1) ** 2 / 5, 6)
    assert r.chi2_cc == round((abs(4 - 1) - 1) ** 2 / 5, 6)

    # b == c: corrected statistic clamps to 0, not (−1)²/(b+c)
    df2 = spark.createDataFrame(
        [(True, False), (False, True)], ["a", "b"]
    )
    r2 = mcnemar_test(df2, "a", "b").collect()[0]
    assert r2.chi2 == 0.0 and r2.chi2_cc == 0.0

    # perfect agreement: NULL statistics
    df3 = spark.createDataFrame([(True, True), (False, False)], ["a", "b"])
    r3 = mcnemar_test(df3, "a", "b").collect()[0]
    assert r3.chi2 is None and r3.chi2_cc is None
    # expression (non-string) predicates accepted
    r4 = mcnemar_test(
        df, F.col("a") == True, F.col("b") == True  # noqa: E712
    ).collect()[0]
    assert (r4.n11, r4.n10) == (3, 4)


def test_friedman_vs_scipy_formula(spark):
    """Tie-corrected Friedman vs a direct python midrank twin."""
    from deepie_spark.operators.stats import friedman_test

    # 4 blocks × 3 treatments, with ties inside blocks
    data = {
        "b1": {"x": 1, "y": 2, "z": 3},
        "b2": {"x": 2, "y": 2, "z": 5},
        "b3": {"x": 1, "y": 4, "z": 4},
        "b4": {"x": 3, "y": 1, "z": 2},
    }
    rows = [
        (blk, trt, v) for blk, d in data.items() for trt, v in d.items()
    ]
    df = spark.createDataFrame(rows, ["blk", "trt", "v"])
    r = friedman_test(df, "blk", "trt", "v").collect()[0]

    # python twin on doubled midranks
    import collections

    r2 = collections.Counter()
    sst = 0
    for d in data.values():
        vals = sorted(d.values())
        for trt, v in d.items():
            rank = 1 + sum(1 for w in vals if w < v)
            ties = sum(1 for w in vals if w == v)
            s = 2 * rank + ties - 1
            r2[trt] += s
            sst += s * s
    n, k = len(data), 3
    sd = sum((rj - n * (k + 1)) ** 2 for rj in r2.values())
    num = (k - 1) * sd
    den = sst - n * k * (k + 1) ** 2
    assert (r.n_blocks, r.k_treatments) == (n, k)
    assert (r.num, r.den) == (num, den)
    assert r.chi2_friedman == round(num / den, 6)

    # scipy cross-check when available
    try:
        from scipy.stats import friedmanchisquare
    except Exception:
        pass
    else:
        stat, _ = friedmanchisquare(
            [data[b]["x"] for b in data],
            [data[b]["y"] for b in data],
            [data[b]["z"] for b in data],
        )
        assert abs(r.chi2_friedman - stat) < 1e-6

    # all-tied blocks: den = 0 -> NULL
    flat = spark.createDataFrame(
        [("b", t, 7) for t in ("x", "y", "z")], ["blk", "trt", "v"]
    )
    assert friedman_test(flat, "blk", "trt", "v").collect()[0].chi2_friedman is None


def test_ljung_box_vs_numpy(spark):
    """Q statistic vs a float numpy twin of the standard ACF."""
    import numpy as np

    from deepie_spark.operators.stats import ljung_box

    y = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8, 9, 7, 9, 3]
    n = len(y)
    df = spark.createDataFrame(
        [(i + 1, v) for i, v in enumerate(y)], ["idx", "y"]
    )
    h = 4
    r = ljung_box(df, "idx", "y", max_lag=h).collect()[0]
    x = np.array(y, dtype=float)
    xc = x - x.mean()
    c0 = float(np.dot(xc, xc))
    q = 0.0
    for k in range(1, h + 1):
        rho = float(np.dot(xc[:-k], xc[k:])) / c0
        q += rho * rho / (n - k)
    q *= n * (n + 2)
    assert r.n == n and r.s_total == sum(y)
    assert abs(r.q_stat - q) < 1e-6

    # constant series: c0 = 0 -> NULL Q
    const = spark.createDataFrame(
        [(i + 1, 5) for i in range(10)], ["idx", "y"]
    )
    assert ljung_box(const, "idx", "y", max_lag=3).collect()[0].q_stat is None


def test_cochran_q_hand_vs_formula(spark):
    """Classic 3-treatment binary table vs the closed form."""
    from deepie_spark.operators.stats import cochran_q

    # 6 blocks × 3 treatments
    table = {
        1: (1, 1, 0),
        2: (1, 0, 0),
        3: (1, 1, 1),
        4: (0, 0, 0),
        5: (1, 1, 0),
        6: (1, 0, 1),
    }
    rows = [
        (b, f"t{j}", v)
        for b, vs in table.items()
        for j, v in enumerate(vs)
    ]
    df = spark.createDataFrame(rows, ["blk", "trt", "y"])
    r = cochran_q(df, "blk", "trt", "y").collect()[0]
    g = [sum(v[j] for v in table.values()) for j in range(3)]
    ell = [sum(v) for v in table.values()]
    n = sum(g)
    k = 3
    num = (k - 1) * (k * sum(x * x for x in g) - n * n)
    den = k * n - sum(x * x for x in ell)
    assert (r.n_blocks, r.k_treatments, r.n_success) == (6, 3, n)
    assert (r.num, r.den) == (num, den)
    assert r.q_stat == round(num / den, 6)

    # degenerate: every block all-ones -> den 0 -> NULL
    flat = spark.createDataFrame(
        [(b, f"t{j}", 1) for b in (1, 2) for j in range(3)],
        ["blk", "trt", "y"],
    )
    assert cochran_q(flat, "blk", "trt", "y").collect()[0].q_stat is None


def test_ols2_exact_vs_numpy_lstsq(spark):
    import numpy as np

    from deepie_spark.operators.stats import ols2_exact

    rng_rows = [
        (5, 1, 0), (7, 2, 0), (6, 3, 1), (9, 4, 0), (11, 5, 1),
        (10, 6, 0), (14, 7, 1), (13, 8, 0), (15, 9, 0), (18, 10, 1),
    ]
    df = spark.createDataFrame(rng_rows, ["y", "x1", "x2"])
    r = ols2_exact(df, "y", "x1", "x2").collect()[0]
    y = np.array([t[0] for t in rng_rows], dtype=float)
    X = np.column_stack(
        [np.ones(len(rng_rows))]
        + [np.array([t[i] for t in rng_rows], dtype=float) for i in (1, 2)]
    )
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    assert abs(r.b0 - beta[0]) < 1e-6
    assert abs(r.b1 - beta[1]) < 1e-6
    assert abs(r.b2 - beta[2]) < 1e-6
    pred = X @ beta
    r2 = 1 - ((y - pred) ** 2).sum() / ((y - y.mean()) ** 2).sum()
    assert abs(r.r2 - r2) < 1e-6

    # collinear regressors: det = 0 -> NULL coefficients
    col = spark.createDataFrame(
        [(1, 2, 4), (2, 3, 6), (3, 4, 8)], ["y", "x1", "x2"]
    )
    rc = ols2_exact(col, "y", "x1", "x2").collect()[0]
    assert rc.det == 0 and rc.b1 is None and rc.r2 is None


def test_sample_entropy_vs_bruteforce(spark):
    from deepie_spark.operators.stats import sample_entropy

    y = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8, 9, 7, 9, 3, 2, 3]
    df = spark.createDataFrame(
        [(i + 1, v) for i, v in enumerate(y)], ["idx", "y"]
    )
    m, r = 2, 2
    out = sample_entropy(df, "idx", "y", m=m, r=r).collect()[0]

    import math

    n = len(y)
    tpl = [tuple(y[i:i + m + 1]) for i in range(n - m)]
    b = a = 0
    for i in range(len(tpl)):
        for j in range(i + 1, len(tpl)):
            if max(
                abs(tpl[i][k] - tpl[j][k]) for k in range(m)
            ) <= r:
                b += 1
                if abs(tpl[i][m] - tpl[j][m]) <= r:
                    a += 1
    assert out.n == n and out.n_templates == len(tpl)
    assert (out.b_count, out.a_count) == (b, a)
    assert a > 0  # the fixture exercises both counts
    assert out.sampen == round(math.log(b) - math.log(a), 6)

    # constant series: every pair matches at both lengths -> sampen 0
    const = spark.createDataFrame(
        [(i + 1, 7) for i in range(8)], ["idx", "y"]
    )
    rc = sample_entropy(const, "idx", "y", m=m, r=0).collect()[0]
    assert rc.b_count == rc.a_count > 0 and rc.sampen == 0.0


def test_median_polish_vs_python_twin(spark):
    """2-sweep polish equals a sequential python medpolish, and the
    additive identity grand+a+b+residual == y holds exactly."""
    from deepie_spark.operators.stats import median_polish

    table = {
        ("r1", "c1"): 3, ("r1", "c2"): 9, ("r1", "c3"): 4,
        ("r2", "c1"): 7, ("r2", "c2"): 13, ("r2", "c3"): 8,
        ("r3", "c1"): 2, ("r3", "c2"): 10, ("r3", "c3"): 5,
        ("r4", "c1"): 6, ("r4", "c2"): 14, ("r4", "c3"): 6,
    }
    df = spark.createDataFrame(
        [(r, c, v) for (r, c), v in table.items()], ["r", "c", "v"]
    )
    out = {
        row.col: row
        for row in median_polish(df, "r", "c", "v", sweeps=2).collect()
    }

    import statistics

    rows = sorted({r for r, _ in table})
    cols = sorted({c for _, c in table})
    resid = {k: float(v) for k, v in table.items()}
    a = {r: 0.0 for r in rows}
    b = {c: 0.0 for c in cols}
    g = 0.0
    for _ in range(2):
        for r in rows:
            m = statistics.median(resid[(r, c)] for c in cols)
            a[r] += m
            for c in cols:
                resid[(r, c)] -= m
        d = statistics.median(b.values())
        for c in cols:
            b[c] -= d
        g += d
        for c in cols:
            m = statistics.median(resid[(r, c)] for r in rows)
            b[c] += m
            for r in rows:
                resid[(r, c)] -= m
        d = statistics.median(a.values())
        for r in rows:
            a[r] -= d
        g += d

    for c in cols:
        assert out[c].col_effect == round(b[c], 6)
        assert out[c].grand == round(g, 6)
    l1 = sum(abs(v) * 16 for v in resid.values())
    assert out[cols[0]].resid_l1_scaled == int(l1)
    assert out[cols[0]].n_rows == 4 and out[cols[0]].n_cols == 3


def test_randomized_response_debiasing_exact(spark):
    """pi_hat inverts the deterministic flip channel exactly."""
    import pytest

    from deepie_spark.functions.text import MOD as PMOD
    from deepie_spark.operators.privacy import (
        _MIX_A,
        _MIX_B,
        randomized_response,
    )

    def poly(s):
        h = 0
        for ch in s:
            h = (h * 131 + ord(ch)) % (2**31 - 1)
        return h

    rows = [(i, 1 if i % 3 == 0 else 0) for i in range(200)]
    df = spark.createDataFrame(rows, ["uid", "flag"])
    r = randomized_response(df, "uid", "flag", salt=11).collect()[0]
    n = len(rows)
    n_true = sum(f for _, f in rows)
    n_rep = 0
    for i, f in rows:
        u = (poly(str(i)) % PMOD * _MIX_A + 11 * _MIX_B) % 4
        n_rep += f if u < 3 else 1 - f
    assert (r.n, r.n_true, r.n_reported) == (n, n_true, n_rep)
    assert r.pi_hat == round((4 * n_rep - n) / (2 * n), 6)
    assert r.abs_err == round(abs((4 * n_rep - n) / (2 * n) - n_true / n), 6)
    with pytest.raises(ValueError):
        randomized_response(df, "uid", "flag", p_num=1, p_den=2)


def test_fleiss_kappa_vs_textbook(spark):
    """Binary Fleiss κ vs the direct P̄/P̄e computation."""
    from deepie_spark.operators.stats import fleiss_kappa_binary

    votes = {1: 3, 2: 0, 3: 2, 4: 1, 5: 3, 6: 2, 7: 0, 8: 1}  # of k=3
    rows = [
        (b, 1 if j < n1 else 0)
        for b, n1 in votes.items()
        for j in range(3)
    ]
    df = spark.createDataFrame(rows, ["blk", "y"])
    r = fleiss_kappa_binary(df, "blk", "y").collect()[0]
    n, k = len(votes), 3
    po = (
        sum(n1 * n1 + (k - n1) * (k - n1) for n1 in votes.values())
        - n * k
    ) / (n * k * (k - 1))
    p1 = sum(votes.values()) / (n * k)
    pe = p1 * p1 + (1 - p1) * (1 - p1)
    assert (r.n_blocks, r.k_raters) == (n, k)
    assert r.kappa == round((po - pe) / (1 - pe), 6)
    # unanimous panel: Pe = 1 -> NULL
    flat = spark.createDataFrame(
        [(b, 1) for b in (1, 2) for _ in range(3)], ["blk", "y"]
    )
    assert fleiss_kappa_binary(flat, "blk", "y").collect()[0].kappa is None


def test_page_trend_perfect_monotone(spark):
    """A perfectly increasing layout maximizes L; z matches the
    closed form."""
    import math

    from deepie_spark.operators.stats import page_trend_test

    order = ["t1", "t2", "t3", "t4"]
    n, k = 6, 4
    rows = [
        (b, t, 10 * (j + 1) + b)
        for b in range(n)
        for j, t in enumerate(order)
    ]
    df = spark.createDataFrame(rows, ["blk", "trt", "v"])
    r = page_trend_test(df, "blk", "trt", "v", order=order).collect()[0]
    # tie-free doubled midranks: s = 2*rank, L2 = 2 * n * sum(j*j)
    l2 = 2 * n * sum((j + 1) * (j + 1) for j in range(k))
    e_l2 = n * k * (k + 1) ** 2 // 2
    var = n * k * k * (k + 1) * (k * k - 1) / 144.0
    assert (r.n_blocks, r.k_treatments, r.l2_stat, r.e_l2) == (
        n, k, l2, e_l2,
    )
    assert r.z == round((l2 - e_l2) / (2 * math.sqrt(var)), 6)
    assert r.z > 0


def test_bartlett_python_twin(spark):
    import math

    import numpy as np

    from deepie_spark.operators.stats import bartlett_test

    rng = np.random.RandomState(7)
    groups = {
        "a": [int(v) for v in rng.normal(500, 20, size=151)],
        "b": [int(v) for v in rng.normal(500, 90, size=180)],
        "c": [int(v) for v in rng.normal(500, 55, size=163)],
    }
    rows = [(g, v) for g, xs in groups.items() for v in xs]
    df = spark.createDataFrame(rows, ["g", "x"])
    r = bartlett_test(df, "g", "x").collect()[0]

    # float twin (unquantized textbook formula)
    k = len(groups)
    n = sum(len(xs) for xs in groups.values())
    s2 = {
        g: (len(xs) * sum(v * v for v in xs) - sum(xs) ** 2)
        / (len(xs) * (len(xs) - 1))
        for g, xs in groups.items()
    }
    sp2 = sum((len(xs) - 1) * s2[g] for g, xs in groups.items()) / (n - k)
    m = (n - k) * math.log(sp2) - sum(
        (len(xs) - 1) * math.log(s2[g]) for g, xs in groups.items()
    )
    c = 1 + (
        sum(1.0 / (len(xs) - 1) for xs in groups.values())
        - 1.0 / (n - k)
    ) / (3 * (k - 1))
    assert r.k == k and r.n == n
    assert abs(r.m_stat - m) < 1e-3
    assert abs(r.c_factor - c) < 1e-4
    assert abs(r.bartlett - m / c) < 1e-3
    # variances differ wildly -> decisive statistic
    assert r.bartlett > 50


def test_bartlett_equal_variances_small(spark):
    from deepie_spark.operators.stats import bartlett_test

    # identical distributions (shifted copies of the same residuals)
    base = [3, -1, 4, -1, -5, 9, -2, 6, -5, -3, 5, 0] * 10
    rows = [(g, 500 + v) for g in ("a", "b", "c") for v in base]
    df = spark.createDataFrame(rows, ["g", "x"])
    r = bartlett_test(df, "g", "x").collect()[0]
    assert abs(r.bartlett) < 1e-3


def test_nelson_aalen_hand_case(spark):
    import math

    from deepie_spark.operators.stats import nelson_aalen

    rows = [(1, 1), (1, 1), (2, 1), (3, 0), (4, 1)]
    df = spark.createDataFrame(rows, "dur long, ev long")
    out = {r.t: r for r in nelson_aalen(df, "dur", "ev").collect()}
    S = float(1 << 40)
    assert (out[1].n_risk, out[1].d_deaths) == (5, 2)
    assert (out[2].n_risk, out[2].d_deaths) == (3, 1)
    assert (out[3].n_risk, out[3].d_deaths) == (2, 0)
    assert (out[4].n_risk, out[4].d_deaths) == (1, 1)
    h1 = math.floor(2.0 / 5.0 * S)
    h2 = math.floor(1.0 / 3.0 * S)
    h4 = math.floor(1.0 / 1.0 * S)
    assert out[1].hazard_fp == h1 and out[2].hazard_fp == h2
    assert out[3].hazard_fp == 0 and out[4].hazard_fp == h4
    assert out[2].cum_hazard_fp == h1 + h2
    assert out[4].cum_hazard_fp == h1 + h2 + h4
    # Aalen variance: d/n^2 terms
    v1 = math.floor(2.0 / 25.0 * S)
    v2 = math.floor(1.0 / 9.0 * S)
    assert out[2].cum_var_fp == v1 + v2


def test_logrank_python_twin(spark):
    import math

    from deepie_spark.operators.stats import logrank_test

    # group A dies fast, group B slowly; some censoring in both
    a = [(1, 1), (1, 1), (2, 1), (2, 1), (3, 1), (3, 0), (4, 1)]
    b = [(2, 1), (4, 1), (5, 1), (5, 0), (6, 1), (7, 1), (8, 0)]
    rows = [("A", t, e) for t, e in a] + [("B", t, e) for t, e in b]
    df = spark.createDataFrame(rows, "g string, dur long, ev long")
    r = logrank_test(df, "g", "dur", "ev", "A", "B").collect()[0]

    # float twin over the pooled death times
    times = sorted({t for t, _ in a + b})
    o = e = v = 0.0
    oa = 0
    for t in times:
        na = sum(1 for d, _ in a if d >= t)
        nb = sum(1 for d, _ in b if d >= t)
        da = sum(1 for d, ev in a if d == t and ev)
        db = sum(1 for d, ev in b if d == t and ev)
        d, n = da + db, na + nb
        if d >= 1 and n > 1:
            oa += da
            e += d * na / n
            v += d * na * nb * (n - d) / (n * n * (n - 1))
    assert r.o_a == oa
    assert abs(r.e_a - e) < 1e-4
    z = (oa - e) / math.sqrt(v)
    assert abs(r.z - z) < 1e-4
    # A dies visibly faster -> strongly positive z
    assert r.z > 1.5


def test_grubbs_stat_planted_outlier(spark):
    import math

    from deepie_spark.operators.stats import grubbs_stat

    vals = [10, 11, 9, 10, 12, 10, 11, 9, 10, 95]
    rows = [(v, i) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, ["v", "rid"])
    r = grubbs_stat(df, "v", "rid").collect()[0]
    assert r.outlier_id == 9  # the planted outlier's id
    n = len(vals)
    mean = sum(vals) / n
    sd = math.sqrt(sum((v - mean) ** 2 for v in vals) / (n - 1))
    assert abs(r.g_stat - abs(95 - mean) / sd) < 1e-6
    # exact integer invariants
    assert r.devn == abs(n * 95 - sum(vals))
    assert r.var_num == n * sum(v * v for v in vals) - sum(vals) ** 2


def test_grubbs_stat_tie_breaks_to_smallest_id(spark):
    from deepie_spark.operators.stats import grubbs_stat

    # two rows tie at max deviation → the SMALLER id wins
    df = spark.createDataFrame(
        [(0, 7), (20, 3), (20, 5), (10, 1)], ["v", "rid"]
    )
    r = grubbs_stat(df, "v", "rid").collect()[0]
    assert r.outlier_id == 7  # |4·0−50|=50 beats |4·20−50|=30


def test_jonckheere_terpstra_brute_force_twin(spark):
    from itertools import product

    from deepie_spark.operators.stats import jonckheere_terpstra

    data = {
        0: [3, 5, 5, 8],
        1: [4, 6, 9],
        2: [5, 9, 10, 12, 2],
    }
    rows = [(g, v) for g, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, ["g", "v"])
    r = jonckheere_terpstra(df, "g", "v", groups=[0, 1, 2]).collect()[0]
    j2 = 0
    for i in range(3):
        for j in range(i + 1, 3):
            for x, y in product(data[i], data[j]):
                j2 += 2 if x < y else (1 if x == y else 0)
    assert r.j2 == j2
    n = sum(len(v) for v in data.values())
    assert r.n_total == n
    assert r.e4_num == n * n - sum(len(v) ** 2 for v in data.values())
    assert r.v72_num == n * n * (2 * n + 3) - sum(
        len(v) ** 2 * (2 * len(v) + 3) for v in data.values()
    )


def test_restricted_mean_survival_hand_km(spark):
    from deepie_spark.operators.stats import restricted_mean_survival

    # durations (t, event): deaths at 2 and 5, censor at 3, max at 7
    rows = [(2, 1), (3, 0), (5, 1), (7, 0), (7, 0)]
    df = spark.createDataFrame(rows, ["dur", "ev"])
    r = restricted_mean_survival(df, "dur", "ev").collect()[0]
    # life table: t=2 n=5 d=1 -> S=0.8; t=3 n=4 d=0 -> S=0.8;
    # t=5 n=3 d=1 -> S=0.8*(2/3); t=7 n=2 d=0
    s2 = 1.0 * (4 / 5)
    s5 = s2 * (2 / 3)
    area = 1.0 * 2 + s2 * (3 - 2) + s2 * (5 - 3) + s5 * (7 - 5)
    assert r.tau == 7 and r.n_times == 4 and r.n_subjects == 5
    assert abs(r.rmst - area) < 1e-6
    assert abs(r.s_final - s5) < 1e-6


def test_holt_winters_query_python_twin(spark):
    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    r = e.queries()["events_hw"](spark, sf).collect()[0]
    srs = e._hourly_dense_counts(spark, sf).orderBy("idx").collect()
    xs = [float(row.y) for row in srs]
    lvl = tr = sse = 0.0
    s = [0.0] * 24
    for t, x in enumerate(xs):
        i = t % 24
        sv = s[i]
        lvl2 = 0.25 * (x - sv) + 0.75 * (lvl + tr)
        tr2 = 0.125 * (lvl2 - lvl) + 0.875 * tr
        err = x - ((lvl + tr) + sv)
        sse = sse + err * err
        s[i] = 0.5 * (x - lvl2) + 0.5 * sv
        lvl, tr = lvl2, tr2
    assert r.n_hours == len(xs)
    assert abs(r.level - lvl) < 1e-6
    assert abs(r.trend - tr) < 1e-6
    assert abs(r.sse - sse) < 1e-4
    assert abs(r.forecast_next - (lvl + tr + s[len(xs) % 24])) < 1e-6


def test_cluster_ch_sklearn_style_twin(spark):
    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    r = e.queries()["cluster_ch"](spark, sf).collect()[0]
    emb = spark.read.parquet(sf + "/embeddings.parquet").collect()
    import math

    pts = {}
    for row in emb:
        q = [math.floor(float(x) * 65536.0) for x in row.embedding]
        pts.setdefault(int(row.label), []).append(q)
    n = sum(len(v) for v in pts.values())
    w = 0.0
    for lab in sorted(pts):
        vs = pts[lab]
        nc = len(vs)
        ssq = sum(x * x for v in vs for x in v)
        s2 = sum(sum(v[d] for v in vs) ** 2 for d in range(64))
        w += (nc * ssq - s2) / nc
    allv = [v for vs in pts.values() for v in vs]
    ssqt = sum(x * x for v in allv for x in v)
    st2 = sum(sum(v[d] for v in allv) ** 2 for d in range(64))
    t = (n * ssqt - st2) / n
    b = t - w
    ch = (b / 9.0) / (w / (n - 10))
    assert r.n_vecs == n
    assert abs(r.ch - ch) / ch < 1e-6


def _anderson_darling_twin(a, b):
    """Python twin of the Scholz-Stephens midrank formula:
    (sfp_a, sfp_b, a2, n_values)."""
    import math

    vals = sorted(set(a + b))
    N, na, nb = len(a) + len(b), len(a), len(b)
    cum = cuma = 0
    sa = sb = n_values = 0
    for v in vals:
        l = (a + b).count(v)
        la = a.count(v)
        cum += l
        cuma += la
        b2 = 2 * cum - l
        ma2 = 2 * cuma - la
        mb2 = 2 * (cum - cuma) - (l - la)
        den4 = b2 * (2 * N - b2) - N * l
        if den4 <= 0:
            continue
        n_values += 1
        for m2, ni, acc in ((ma2, na, "a"), (mb2, nb, "b")):
            d = N * m2 - ni * b2
            t = float(l) * float(d) * float(d) / (
                float(N) * float(den4)
            )
            fp = math.floor(t * 1048576.0)
            if acc == "a":
                sa += fp
            else:
                sb += fp
    a2 = ((N - 1) / N) * ((sa / na + sb / nb) / 1048576.0)
    return sa, sb, a2, n_values


def _anderson_darling(spark, a, b):
    from deepie_spark.operators.stats import anderson_darling_2sample

    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v long")
    return anderson_darling_2sample(df, "g", "v", "a", "b").collect()[0]


def test_anderson_darling_2sample_python_twin(spark):
    a = [1, 2, 2, 3, 5, 8, 9, 9, 12]
    b = [2, 3, 3, 4, 6, 10, 11, 14, 14, 20]
    r = _anderson_darling(spark, a, b)
    sa, sb, a2, _ = _anderson_darling_twin(a, b)
    N, na, nb = len(a) + len(b), len(a), len(b)
    assert r.n_total == N and r.n_a == na and r.n_b == nb
    assert r.sfp_a == sa and r.sfp_b == sb
    assert abs(r.a2 - a2) < 1e-6


def test_anderson_darling_heavy_tie_is_kept(spark):
    """The den4 > 0 filter drops a value only when the pooled sample has
    a single distinct value: a value carrying more than 3N/4 of the
    pooled mass, and the last distinct value, keep their terms."""
    a = [7] * 9 + [1, 3]
    b = [7] * 8 + [9, 2]
    assert 4 * (a + b).count(7) > 3 * len(a + b)
    r = _anderson_darling(spark, a, b)
    sa, sb, a2, n_values = _anderson_darling_twin(a, b)
    assert r.n_values == n_values == len(set(a + b)) == 5
    assert r.sfp_a == sa and r.sfp_b == sb
    assert abs(r.a2 - a2) < 1e-6

    one = _anderson_darling(spark, [7, 7], [7])  # one distinct value
    assert one.n_values == 0 and one.a2 is None


def test_anderson_darling_shift_detects(spark):
    from deepie_spark.operators.stats import anderson_darling_2sample

    same = [("a", v % 7) for v in range(200)] + [
        ("b", v % 7) for v in range(200)
    ]
    shifted = [("a", v % 7) for v in range(200)] + [
        ("b", v % 7 + 5) for v in range(200)
    ]
    r_same = anderson_darling_2sample(
        spark.createDataFrame(same, ["g", "v"]), "g", "v", "a", "b"
    ).collect()[0]
    r_shift = anderson_darling_2sample(
        spark.createDataFrame(shifted, ["g", "v"]), "g", "v", "a", "b"
    ).collect()[0]
    assert r_shift.a2 > 10 * max(r_same.a2, 0.1)


def test_kuiper_cvm_python_twin(spark):
    import math

    from deepie_spark.operators.stats import kuiper_cvm_2sample

    a = [1, 2, 2, 3, 5, 8, 9, 9, 12]
    b = [2, 3, 3, 4, 6, 10, 11, 14, 14, 20]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, ["g", "v"])
    r = kuiper_cvm_2sample(df, "g", "v", "a", "b").collect()[0]
    na, nb = len(a), len(b)
    nt = na + nb
    vals = sorted(set(a + b))
    dplus = dminus = 0
    cvm_fp = 0
    cuma = cumb = 0
    for v in vals:
        la, lb = a.count(v), b.count(v)
        cuma += la
        cumb += lb
        delta = cuma * nb - cumb * na
        dplus = max(dplus, delta)
        dminus = max(dminus, -delta)
        t = (
            float(la + lb)
            * float(delta)
            * float(delta)
            / (float(nt * nt) * float(na * nb))
        )
        cvm_fp += math.floor(t * 1048576.0)
    assert r.dplus_num == dplus and r.dminus_num == dminus
    assert r.cvm_fp == cvm_fp
    assert abs(r.kuiper_v - (dplus + dminus) / (na * nb)) < 1e-6


def test_ansari_bradley_python_twin(spark):
    from deepie_spark.operators.stats import ansari_bradley

    a = [5, 6, 6, 7, 8]          # compressed around the middle
    b = [1, 2, 6, 12, 13, 14]    # spread to the extremes
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, ["g", "v"])
    r = ansari_bradley(df, "g", "v", "a", "b").collect()[0]
    pooled = sorted(a + b)
    N = len(pooled)
    # doubled midrank scores per distinct value
    ab2 = t2 = s4 = 0
    cum = 0
    for v in sorted(set(pooled)):
        l = pooled.count(v)
        la = a.count(v)
        cum += l
        r2 = 2 * cum - l + 1
        s2 = min(r2, 2 * (N + 1) - r2)
        ab2 += la * s2
        t2 += l * s2
        s4 += l * s2 * s2
    assert r.ab2 == ab2 and r.t2 == t2 and r.s4 == s4
    assert r.n_a == len(a) and r.n_b == len(b)
    # the compressed sample's scores sit above the null mean
    assert r.ab2 > len(a) * t2 / N
    assert r.z > 0


def test_markov_stationary_is_fixed_point(spark):
    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    pi = {
        r.event_type: r.pi
        for r in e.queries()["event_markov_stationary"](
            spark, sf
        ).collect()
    }
    assert abs(sum(pi.values()) - 1.0) < 1e-4
    # fixed point: pi P == pi (within convergence tolerance)
    tr = {
        (r.prev_type, r.next_type): r.prob
        for r in e.queries()["event_transitions"](spark, sf).collect()
    }
    types = sorted(pi)
    for j in types:
        nxt = sum(pi[i] * tr.get((i, j), 0.0) for i in types)
        assert abs(nxt - pi[j]) < 1e-3


def test_periodogram_daily_harmonic_dominates(spark):
    import __spark_entry__ as e

    rows = {
        r.harmonic: r.power
        for r in e.queries()["events_periodogram"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert set(rows) == set(range(1, 7))
    # powers are nonnegative and the spectrum is non-degenerate
    assert all(p >= 0 for p in rows.values())
    assert max(rows.values()) > 0


def test_chow_detects_planted_break(spark):
    import __spark_entry__ as e

    r = e.queries()["events_chow"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert r.n_hours > 100
    # pooled SSE can never be below the sum of the split fits
    assert r.sse_pooled >= r.sse_a + r.sse_b - 1e-6
    assert r.f_stat is not None and r.f_stat >= 0


def test_markov_attribution_invariants(spark):
    import __spark_entry__ as e

    rows = e.queries()["event_markov_attribution"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert {r.channel for r in rows} == {
        "click", "error", "signup", "view"
    }
    conv_full = rows[0].conv_full
    assert 0 < conv_full <= 1
    for r in rows:
        # killing paths through a channel can only LOWER conversion
        assert r.conv_removed <= conv_full + 1e-9
        assert r.removal_effect >= -1e-9
    assert abs(sum(r.attribution for r in rows) - 1.0) < 1e-4


def test_kleinberg_bursts_python_twin(spark):
    import math

    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    r = e.queries()["events_bursts"](spark, sf).collect()[0]
    srs = e._hourly_dense_counts(spark, sf).orderBy("idx").collect()
    ys = [row.y for row in srs]
    n, s = len(ys), sum(ys)
    lam0 = s / n
    lnl0, lnl1 = math.log(lam0), math.log(2.0 * lam0)
    gam = math.floor(math.log(float(n)) * 1048576.0)
    c0, n0, c1, n1 = 0, 0, gam, 0
    for y in ys:
        e0 = math.floor((lam0 - float(y) * lnl0) * 1048576.0)
        e1 = math.floor((2.0 * lam0 - float(y) * lnl1) * 1048576.0)
        p0 = (c1, n1) if (c1, n1) < (c0, n0) else (c0, n0)
        alt = (c0 + gam, n0)
        p1 = alt if alt < (c1, n1) else (c1, n1)
        c0, n0 = p0[0] + e0, p0[1]
        c1, n1 = p1[0] + e1, p1[1] + 1
    best = min((c0, n0), (c1, n1))
    assert r.n_hours == n and r.gam == gam
    assert r.best_cost_fp == best[0]
    assert r.n_burst_hours == best[1]
    assert 0 <= r.n_burst_hours <= n
