"""DSIR importance-resampling weights: python-twin exactness, the
importance-direction property, and the bounded-broadcast plan shape.
"""

import math
import random

import pytest

import __spark_entry__ as entry
from pyspark.sql import functions as F

from deepie_spark.functions.text import BASE, MOD
from deepie_spark.operators.curation import dsir_log_weights

B = 64


def _py_hash(s: str) -> int:
    h = 0
    for c in s:
        h = (h * BASE + ord(c)) % MOD
    return h


def _py_dsir(docs, target_ids, n_buckets=B, k=2):
    def grams(toks):
        if len(toks) >= k:
            sh = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
        else:
            sh = [" ".join(toks)]
        return [_py_hash(s) % n_buckets for s in sh]

    cr: dict[int, int] = {}
    ct: dict[int, int] = {}
    per_doc: dict[int, list[int]] = {}
    for d, toks in docs:
        bs = grams(toks)
        per_doc[d] = bs
        for b in bs:
            cr[b] = cr.get(b, 0) + 1
            if d in target_ids:
                ct[b] = ct.get(b, 0) + 1
    tr_tot = sum(cr.values())
    tt_tot = sum(ct.values())
    out = {}
    for d, bs in per_doc.items():
        m: dict[int, int] = {}
        for b in bs:
            m[b] = m.get(b, 0) + 1
        s = 0.0
        for b in sorted(m):  # ascending-bucket fold, like the engine
            s += m[b] * (
                math.log(ct.get(b, 0) + 1.0) - math.log(cr[b] + 1.0)
            )
        norm = math.log(tt_tot + float(n_buckets)) - math.log(
            tr_tot + float(n_buckets)
        )
        out[d] = (len(bs), round(s - len(bs) * norm, 6))
    return out


def _mk_docs(rng, n, vocab_a, vocab_b, mix):
    """docs drawing `mix` fraction of tokens from vocab_a."""
    docs = []
    for d in range(n):
        toks = [
            rng.choice(vocab_a if rng.random() < mix else vocab_b)
            for _ in range(rng.randint(5, 30))
        ]
        docs.append((d, toks))
    return docs


def test_dsir_matches_python_twin(spark):
    rng = random.Random(3)
    va = [f"a{i}" for i in range(20)]
    vb = [f"b{i}" for i in range(20)]
    docs = _mk_docs(rng, 60, va, vb, 0.5)
    target = {d for d, _ in docs if d % 5 == 0}
    df = spark.createDataFrame(
        [(d, toks) for d, toks in docs], "doc_id long, toks array<string>"
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["log_weight"])
        for r in dsir_log_weights(
            df, F.col("doc_id") % 5 == 0, n_buckets=B, k=2
        ).collect()
    }
    assert got == _py_dsir(docs, target)


def test_dsir_importance_direction(spark):
    """Docs written in the target slice's vocabulary must score higher
    than out-of-domain docs."""
    rng = random.Random(7)
    va = [f"in{i}" for i in range(15)]
    vb = [f"out{i}" for i in range(15)]
    in_domain = _mk_docs(rng, 30, va, vb, 1.0)
    out_domain = [
        (100 + d, toks) for d, toks in _mk_docs(rng, 30, va, vb, 0.0)
    ]
    df = spark.createDataFrame(
        in_domain + out_domain, "doc_id long, toks array<string>"
    )
    # target exemplars: half the in-domain docs
    w = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_log_weights(
            df, (F.col("doc_id") < 15), n_buckets=256, k=2
        ).collect()
    }
    mean_in = sum(w[d] for d, _ in in_domain if d >= 15) / 15
    mean_out = sum(w[d] for d, _ in out_domain) / 30
    assert mean_in > mean_out + 1.0, (mean_in, mean_out)


def test_dsir_plan_bounded_broadcast(spark, sf_dir):
    df = entry.q_dsir_weights(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    # the n_buckets-row model and 1-row totals ship broadcast; the only
    # hash exchanges are the two bounded aggregations
    assert final.count("BroadcastExchange") >= 2
    assert "SortMergeJoin" not in final
    assert "CartesianProduct" not in final


def test_mixture_allocation_sums_to_budget(spark, sf_dir):
    import __spark_entry__ as entry

    rows = entry.q_mixture_allocation(spark, sf_dir).collect()
    assert sum(r["tokens"] for r in rows) == entry._ALLOC_BUDGET
    # proportionality: allocation within 1 token of the exact quota
    n_tot = sum(r["n"] for r in rows)
    for r in rows:
        exact = entry._ALLOC_BUDGET * r["n"] / n_tot
        assert abs(r["tokens"] - exact) < 1.0


def test_term_keyness_hand_computed(spark):
    import math

    from deepie_spark.operators.curation import term_keyness

    # "zz" is wildly enriched in group g1; "the" is background
    rows = (
        [("g1", "zz")] * 6
        + [("g1", "the")] * 4
        + [("g2", "the")] * 9
        + [("g2", "zz")] * 1
    )
    occ = spark.createDataFrame(rows, "source string, token string")
    out = {(r.source, r.token): r for r in
           term_keyness(occ, min_count=1).collect()}
    r = out[("g1", "zz")]
    assert (r.a, r.b, r.c, r.d) == (6, 1, 4, 9)
    assert r.enriched is True
    assert out[("g2", "zz")].enriched is False

    def xlnx(x):
        return x * math.log(x) if x > 0 else 0.0

    expect = round(
        2.0
        * (
            (xlnx(6) + xlnx(1) + xlnx(4) + xlnx(9) + xlnx(20))
            - (xlnx(7) + xlnx(10) + xlnx(10) + xlnx(13))
        ),
        6,
    )
    assert r.g2 == expect
    # G² is symmetric across the two groups for the same token
    assert out[("g2", "zz")].g2 == expect


def test_term_keyness_min_count_and_exclusive_token(spark):
    from deepie_spark.operators.curation import term_keyness

    rows = [("g1", "only")] * 5 + [("g2", "x")] * 5 + [("g1", "rare")]
    occ = spark.createDataFrame(rows, "source string, token string")
    out = {(r.source, r.token): r for r in
           term_keyness(occ, min_count=3).collect()}
    # below min_count rows are dropped (but counted in marginals)
    assert ("g1", "rare") not in out
    # group-exclusive token: b == 0 exercises the xlnx(0) = 0 branch
    r = out[("g1", "only")]
    assert r.b == 0 and r.g2 > 0 and r.enriched is True


def test_boilerplate_stats_hand_computed(spark):
    from deepie_spark.operators.curation import boilerplate_stats

    rows = [
        (1, "cookie banner"),
        (1, "unique text a"),
        (2, "cookie banner"),
        (2, "cookie banner"),  # same doc twice: df counts DISTINCT docs
        (2, "unique text b"),
        (3, "cookie banner"),
        (3, "solo"),
    ]
    ch = spark.createDataFrame(rows, "doc_id long, chunk_text string")
    out = {r.doc_id: r for r in
           boilerplate_stats(ch, min_df=3).collect()}
    # 'cookie banner' df = 3 (docs 1,2,3) → boilerplate at min_df=3
    assert (out[1].n_chunks, out[1].n_boiler) == (2, 1)
    assert out[2].n_chunks == 3 and out[2].n_boiler == 2
    assert out[2].boiler_frac == round(2 / 3, 6)
    assert out[3].n_boiler == 1
    # at min_df=4 nothing qualifies
    out4 = boilerplate_stats(ch, min_df=4).collect()
    assert all(r.n_boiler == 0 and r.boiler_frac == 0.0 for r in out4)


def test_readability_python_twin(spark, sf_dir):
    import re

    import __spark_entry__ as entry

    out = {r.doc_id: r
           for r in entry.q_readability(spark, sf_dir).collect()}
    docs = {r.doc_id: r.text for r in
            entry._docs(spark, sf_dir).select("doc_id", "text")
            .limit(30).collect()}
    for doc_id, text in docs.items():
        r = out[doc_id]
        w = len([t for t in re.split(r"\s+", text) if t])
        s = max(1, len(re.findall(r"[.!?]+", text)))
        syl = len(re.findall(r"[aeiou]+", text.lower()))
        assert (r.n_words, r.n_sentences, r.n_syllables) == (w, s, syl)
        assert r.flesch == round(
            206.835 - 1.015 * (w / s) - 84.6 * (syl / w), 6
        )
        assert r.fk_grade == round(
            0.39 * (w / s) + 11.8 * (syl / w) - 15.59, 6
        )


def test_vocab_growth_python_twin(spark, sf_dir):
    import re

    import __spark_entry__ as entry

    out = {r.decile: (r.vocab_cum, r.tokens_cum)
           for r in entry.q_vocab_growth(spark, sf_dir).collect()}
    docs = sorted(
        (r.doc_id, r.text)
        for r in entry._docs(spark, sf_dir).select("doc_id", "text")
        .collect()
    )
    n = max(d for d, _ in docs) + 1
    firsts, per_decile_toks = {}, [0] * 10
    for doc_id, text in docs:
        b = doc_id * 10 // n
        for t in (x for x in re.split(r"\s+", text) if x):
            per_decile_toks[b] += 1
            firsts.setdefault(t, b)
    cum_v = cum_t = 0
    for b in range(10):
        cum_v += sum(1 for fb in firsts.values() if fb == b)
        cum_t += per_decile_toks[b]
        assert out[b] == (cum_v, cum_t), f"decile {b}"
    # monotone, ends at the full corpus totals
    assert out[9][0] == len(firsts)


def test_psi_drift_matches_python_twin(spark):
    import math

    import numpy as np

    from deepie_spark.operators.curation import psi_drift

    rng = np.random.RandomState(11)
    rows = [
        (f"s{rng.randint(4)}", int(v))
        for v in rng.gamma(4.0, 60.0, size=800)
    ]
    df = spark.createDataFrame(rows, ["source", "n_chars"])
    got = {
        r.source: (r.n_a, r.n_b, r.psi)
        for r in psi_drift(df, "source", "n_chars", 10, 64).collect()
    }

    def bin_of(v):
        return min(9, v // 64)

    from collections import Counter

    per = {}
    for s, v in rows:
        per.setdefault(s, Counter())[bin_of(v)] += 1
    glob = Counter()
    for c in per.values():
        glob.update(c)
    expect = {}
    for s, c in per.items():
        A = sum(c.values())
        B = sum(glob.values()) - A
        psi = 0.0
        for i in range(10):  # FIXED bin order, like both engines
            a1 = c.get(i, 0) + 1
            b1 = glob.get(i, 0) - c.get(i, 0) + 1
            psi += (a1 / (A + 10) - b1 / (B + 10)) * math.log(
                (a1 * (B + 10)) / (b1 * (A + 10))
            )
        expect[s] = (A, B, round(psi, 6))
    assert got == expect


def test_psi_drift_zero_for_identical_halves(spark):
    from deepie_spark.operators.curation import psi_drift

    # two groups with IDENTICAL value multisets → symmetric smoothing,
    # p == q in every bin → psi exactly 0 for both
    vals = [10, 70, 70, 130, 200, 200, 640, 1000]
    rows = [("a", v) for v in vals] + [("b", v) for v in vals]
    df = spark.createDataFrame(rows, ["source", "n_chars"])
    got = {r.source: r.psi for r in
           psi_drift(df, "source", "n_chars", 10, 64).collect()}
    assert got == {"a": 0.0, "b": 0.0}


def test_jsd_drift_python_twin_and_bounds(spark):
    import math
    from collections import Counter

    from deepie_spark.operators.curation import jsd_drift

    rng = __import__("numpy").random.RandomState(61)
    vocab_a = ["x", "y", "z", "common"]
    vocab_b = ["p", "q", "common"]
    rows = []
    for _ in range(500):
        g = "A" if rng.rand() < 0.5 else "B"
        v = vocab_a if g == "A" else vocab_b
        rows.append((g, v[rng.randint(len(v))]))
    df = spark.createDataFrame(rows, ["source", "token"])
    got = {
        r.source: (r.n_a, r.n_b, r.kl_p_fp, r.kl_q_fp, r.jsd)
        for r in jsd_drift(df, "source", "token").collect()
    }

    S = float(1 << 30)
    per = {"A": Counter(), "B": Counter()}
    for g, tok in rows:
        per[g][tok] += 1
    allc = per["A"] + per["B"]
    expect = {}
    for g in ("A", "B"):
        A = sum(per[g].values())
        B = len(rows) - A
        klp = klq = 0
        for tok, tot in allc.items():
            a = per[g].get(tok, 0)
            b = tot - a
            aB, bA = a * B, b * A
            if a > 0:
                klp += math.floor(
                    ((a / A) * math.log((2 * aB) / (aB + bA))) * S
                )
            if b > 0:
                if a > 0:
                    klq += math.floor(
                        ((b / B) * math.log((2 * bA) / (aB + bA))) * S
                    )
                else:
                    klq += math.floor(((b / B) * math.log(2.0)) * S)
        expect[g] = (A, B, klp, klq, round((klp + klq) / (2 * S), 6))
    assert got == expect
    # JSD is bounded by ln 2 and positive for genuinely different mixes
    for _, _, _, _, jsd in got.values():
        assert 0.0 < jsd <= math.log(2.0) + 1e-9


def test_source_diversity_python_twin(spark):
    import math
    from collections import Counter

    import numpy as np

    from __spark_entry__ import q_source_diversity

    rows = q_source_diversity(spark, "/root/testdata/sf0.001").collect()
    assert rows
    import pandas as pd

    pdf = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
    per = {}
    for s, text in zip(pdf["source"], pdf["text"]):
        per.setdefault(s, Counter()).update(
            t for t in __import__("re").split(r"\s+", text) if t
        )
    S = float(1 << 30)
    for r in rows:
        c = per[r.source]
        N = sum(c.values())
        assert (r.n_tokens, r.vocab) == (N, len(c))
        assert r.sum_sq == sum(n * n for n in c.values())
        efp = sum(
            math.floor((n / N) * math.log(N / n) * S)
            for n in c.values()
        )
        assert r.entropy_fp == efp
        assert r.simpson == round(r.sum_sq / (N * N), 6)
        assert r.entropy == round(efp / S, 6)
        # entropy ≤ ln(vocab); simpson ≥ 1/vocab (uniform bound)
        assert r.entropy <= math.log(r.vocab) + 1e-6
        assert r.simpson >= 1.0 / r.vocab - 1e-9


def test_source_drift_emd_python_twin(spark):
    from collections import Counter

    import pandas as pd

    from __spark_entry__ import q_source_drift_emd

    rows = q_source_drift_emd(spark, "/root/testdata/sf0.001").collect()
    pdf = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
    per, glob = {}, Counter()
    for s, n in zip(pdf["source"], pdf["n_chars"]):
        b = min(9, int(n) // 64)
        per.setdefault(s, Counter())[b] += 1
        glob[b] += 1
    for r in rows:
        A = sum(per[r.source].values())
        B = sum(glob.values()) - A
        ca = cb = num = 0
        for i in range(10):
            a = per[r.source].get(i, 0)
            ca += a
            cb += glob.get(i, 0) - a
            num += abs(ca * B - cb * A)
        assert (r.n_a, r.n_b, r.emd_num) == (A, B, num)
        assert r.emd == round(num / (A * B * 10), 6)
        # W1 on a unit-width 10-bin grid is bounded by 1 (in grid units)
        assert 0.0 <= r.emd <= 1.0


def test_weighted_jaccard_hand_multisets(spark):
    """J_w = Σmin/Σmax on hand multisets; the Σmax identity
    tot_a + tot_b − Σmin matches the direct per-token max sum."""
    from deepie_spark.operators.curation import weighted_jaccard_sources

    rows = (
        [("s1", "a")] * 3 + [("s1", "b")] * 1
        + [("s2", "a")] * 1 + [("s2", "b")] * 2 + [("s2", "c")] * 1
        + [("s3", "z")] * 2
    )
    df = spark.createDataFrame(rows, "source string, token string")
    got = {(r.group_a, r.group_b): r
           for r in weighted_jaccard_sources(df).collect()}
    r = got[("s1", "s2")]
    # min: a=1, b=1 -> 2 ; max: a=3, b=2, c=1 -> 6
    assert (r.sum_min, r.sum_max) == (2, 6)
    assert r.weighted_jaccard == round(2 / 6, 6)
    # disjoint pair never appears (no shared token -> no row)
    assert ("s1", "s3") not in got


def test_token_infogain_perfect_separator_tops(spark):
    import math

    from deepie_spark.operators.curation import token_information_gain

    # "aaa" appears in every class-x doc and never in class-y;
    # "zzz" appears everywhere (zero gain)
    rows = []
    for i in range(6):
        rows.append(("x", ["aaa", "zzz", f"f{i}"]))
    for i in range(6):
        rows.append(("y", ["zzz", f"g{i}"]))
    df = spark.createDataFrame(rows, ["source", "toks"])
    got = token_information_gain(
        df, "source", "toks", min_df=2, top_k=5
    ).collect()
    assert got[0]["token"] == "aaa"
    # IG of a perfect binary separator = H(class) = ln 2 here
    assert abs(got[0]["info_gain"] - math.log(2)) < 2e-6
    zzz = [r for r in got if r["token"] == "zzz"]
    assert not zzz or zzz[-1]["mi_fp"] <= 0  # no gain


def test_token_infogain_vs_python(spark):
    import math

    from deepie_spark.operators.curation import token_information_gain

    docs = [
        ("a", {"t1", "t2"}), ("a", {"t1"}), ("a", {"t2", "t3"}),
        ("b", {"t3"}), ("b", {"t1", "t3"}), ("b", {"t3", "t2"}),
    ]
    df = spark.createDataFrame(
        [(c, sorted(s)) for c, s in docs], ["source", "toks"]
    )
    got = {r["token"]: r["info_gain"]
           for r in token_information_gain(
               df, "source", "toks", min_df=1, top_k=10).collect()}
    n = len(docs)
    classes = sorted({c for c, _ in docs})
    for t in ("t1", "t2", "t3"):
        want = 0.0
        n_t = sum(1 for _, s in docs if t in s)
        for c in classes:
            n_c = sum(1 for cc, _ in docs if cc == c)
            n_tc = sum(1 for cc, s in docs if cc == c and t in s)
            for cnt, side in ((n_tc, n_t), (n_c - n_tc, n - n_t)):
                if cnt > 0:
                    want += (cnt / n) * (
                        math.log(cnt * n) - math.log(side * n_c)
                    )
        assert got[t] == pytest.approx(want, abs=5e-6)


def test_burrows_delta_vs_python_twin(spark):
    """Hand corpus: Delta matches a sequential float twin with the
    same DIV quantization, and identical sources land at Delta 0."""
    import math
    from collections import Counter

    from deepie_spark.operators.curation import burrows_delta

    corpora = {
        "a": "the cat sat on the mat the cat",
        "b": "a dog ran a dog ran a dog",
        "c": "the cat sat on the mat the cat",  # clone of a
    }
    df = spark.createDataFrame(
        [(s, t.split()) for s, t in corpora.items()], ["source", "toks"]
    )
    out = {
        (r.src_a, r.src_b): r for r in burrows_delta(df).collect()
    }

    SC = 1 << 20
    cnt = {s: Counter(t.split()) for s, t in corpora.items()}
    tot = {s: sum(c.values()) for s, c in cnt.items()}
    vocab = sorted({w for c in cnt.values() for w in c})
    srcs = sorted(corpora)
    fq = {
        (s, w): (cnt[s][w] * SC) // tot[s] for s in srcs for w in vocab
    }
    z = {}
    for w in vocab:
        vals = [fq[(s, w)] for s in srcs]
        sn, sf, sff = len(vals), sum(vals), sum(v * v for v in vals)
        rad = sn * sff - sf * sf
        if rad <= 0:
            continue
        for s in srcs:
            z[(s, w)] = (sn * fq[(s, w)] - sf) / math.sqrt(rad)
    for i, sa in enumerate(srcs):
        for sb in srcs[i + 1:]:
            toks = sorted({w for (s, w) in z if s == sa})
            fp = sum(
                math.floor(SC * abs(z[(sa, w)] - z[(sb, w)]))
                for w in toks
            )
            r = out[(sa, sb)]
            assert r.k_tokens == len(toks)
            assert r.delta_fp == fp
            assert r.delta == round(fp / (len(toks) * SC), 6)
    assert out[("a", "c")].delta == 0.0       # clones: zero distance
    assert out[("a", "b")].delta > 0.5        # disjoint vocab: far


def test_morisita_horn_identity_and_disjoint(spark):
    """MH = 1 for a source and its resample, 0 for disjoint vocab,
    and matches the float formula on a mixed pair."""
    from deepie_spark.operators.curation import morisita_horn

    rows = [
        ("a", "x x y z".split()),
        ("b", ("x x y z " * 10).split()),   # 10x resample of a
        ("c", "q r r".split()),             # disjoint
        ("d", "x q q y".split()),           # mixed
    ]
    df = spark.createDataFrame(rows, ["source", "toks"])
    got = {(r.src_a, r.src_b): r for r in morisita_horn(df).collect()}
    assert got[("a", "b")].mh == 1.0          # size-insensitive
    assert ("a", "c") not in got               # no shared token: no row
    from collections import Counter

    ca, cd = Counter(rows[0][1]), Counter(rows[3][1])
    na, nd = sum(ca.values()), sum(cd.values())
    sab = sum(ca[t] * cd[t] for t in ca)
    num = 2 * na * nd * sab
    den = nd * nd * sum(v * v for v in ca.values()) + na * na * sum(
        v * v for v in cd.values()
    )
    assert got[("a", "d")].num == num
    assert got[("a", "d")].mh == round(num / den, 6)


def test_hellinger_drift_identical_halves_and_bounds(spark):
    from deepie_spark.operators.curation import hellinger_drift

    # identical multisets → BC = 1, Hellinger = 0, TV = 0
    vals = [10, 70, 70, 130, 200, 200, 640, 1000]
    rows = [("a", v) for v in vals] + [("b", v) for v in vals]
    df = spark.createDataFrame(rows, ["source", "n_chars"])
    got = {r.source: r for r in
           hellinger_drift(df, "source", "n_chars", 10, 64).collect()}
    for s in ("a", "b"):
        assert got[s].bc == 1.0
        assert got[s].hellinger == 0.0
        assert got[s].tv == 0.0
        assert got[s].tv_num == 0


def test_drift_bins_by_integer_div_past_2_53(spark):
    """bin = value div width in exact longs: 2^56−1 over width 2^55 is
    bin 1.  A double divide rounds 2^56−1 up to 2^56 and bins it 2,
    beside the exact 2^56 of the other group."""
    from deepie_spark.operators.curation import hellinger_drift, psi_drift

    rows = [("a", 2**56 - 1), ("b", 2**56)]
    df = spark.createDataFrame(rows, "source string, n_chars long")
    hel = {r.source: r for r in
           hellinger_drift(df, "source", "n_chars", 4, 2**55).collect()}
    for s in ("a", "b"):
        assert hel[s].bc == 0.0  # disjoint bins 1 and 2
        assert hel[s].hellinger == 1.0
    psi = {r.source: r.psi for r in
           psi_drift(df, "source", "n_chars", 4, 2**55).collect()}
    assert psi["a"] > 0 and psi["b"] > 0


def test_hellinger_drift_disjoint_is_maximal(spark):
    from deepie_spark.operators.curation import hellinger_drift

    # disjoint bins → BC = 0, Hellinger = 1, TV = 1
    rows = [("a", 5)] * 4 + [("b", 700)] * 4
    df = spark.createDataFrame(rows, ["source", "n_chars"])
    got = {r.source: r for r in
           hellinger_drift(df, "source", "n_chars", 10, 64).collect()}
    for s in ("a", "b"):
        assert got[s].bc == 0.0
        assert got[s].hellinger == 1.0
        assert got[s].tv == 1.0
