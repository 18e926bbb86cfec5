"""r9 additions: corpus-affix stripping in the PassJoin blocker,
model-based quality-classifier inference, and the hashed char-n-gram
language scorer (semantic pins beyond the DuckDB oracle gates)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from nyc_taxi_bigdata_pipeline_spark.benchqueries.text_ops import (
    langid_confusion,
)
from nyc_taxi_bigdata_pipeline_spark.operators import curation
from nyc_taxi_bigdata_pipeline_spark.operators.editdist import (
    _lcp_len,
    _strip_common_affixes,
    levenshtein_self_join,
)
from tests.test_operators import _lev_bruteforce


# ------------------------------------------------- affix stripping


def test_lcp_len():
    assert _lcp_len("", "x") == 0
    assert _lcp_len("abc", "abd") == 2
    assert _lcp_len("abc", "abc") == 3
    assert _lcp_len("abc", "ab") == 2


def _strings(spark, vals):
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], ["id", "s"]
    )


def test_strip_common_affixes_prefix_and_suffix(spark):
    df = _strings(spark, ["PRE-a-SUF", "PRE-b-SUF", "PRE-cc-SUF"])
    got = {r.s for r in _strip_common_affixes(df, "s").collect()}
    assert got == {"a", "b", "cc"}


def test_strip_common_affixes_overlap_clamped(spark):
    # shortest string IS prefix+suffix material: lcp=2 ("ab"), reversed
    # lcp=2 ("ba" reversed = "ab"...), but ml - lcp caps the suffix strip
    df = _strings(spark, ["abab", "ab"])
    out = {r.id: r.s for r in _strip_common_affixes(df, "s").collect()}
    # lcp("ab","abab")=2; suffix clamp = min(lcs, ml-lcp) = min(?, 0) = 0
    assert out[1] == ""
    assert out[0] == "ab"


def test_strip_common_affixes_noop_without_common_affix(spark):
    df = _strings(spark, ["xa", "yb", "zc"])
    got = {r.s for r in _strip_common_affixes(df, "s").collect()}
    assert got == {"xa", "yb", "zc"}


@pytest.mark.parametrize("k", [1, 2])
def test_self_join_strip_equals_unstripped(spark, k):
    # template corpus: constant prefix + zero-padded id + constant suffix
    # (the TPC-H name pathology) with planted near-dup pairs
    vals = [f"Record#{i:06d}-end" for i in range(0, 400, 2)]
    vals += [f"Record#{i + 1:06d}-end" for i in range(0, 100, 2)]  # dist 1 pairs
    # the self-join always strips the corpus affixes; brute force over the
    # UNSTRIPPED strings is the reference
    expected = _lev_bruteforce(spark, list(enumerate(vals)), k)
    df = _strings(spark, vals).repartition(8)
    got = {tuple(r) for r in levenshtein_self_join(df, "id", "s", k=k).collect()}
    assert got == expected
    assert expected  # the planted pairs are actually found


def test_self_join_strip_identical_corpus(spark):
    # every string equal to the affix itself -> residue is empty
    df = _strings(spark, ["same", "same", "same"])
    got = sorted((r.id_a, r.id_b, r.dist) for r in
                 levenshtein_self_join(df, "id", "s", k=1).collect())
    assert got == [(0, 1, 0), (0, 2, 0), (1, 2, 0)]


# ------------------------------------- quality-classifier inference


def test_quality_logistic_scores_discriminates(spark):
    import pyspark.sql.functions as SF

    docs = spark.createDataFrame(
        [
            (1, "good good good good"),
            (2, "bad bad bad bad"),
            (3, "good bad good good"),  # 3:1 good
        ],
        ["doc_id", "text"],
    )
    n_buckets = 64
    fb = {
        tok: spark.sql(
            f"SELECT pmod(xxhash64('{tok}'), {n_buckets}) AS b"
        ).first().b
        for tok in ("good", "bad")
    }
    assert fb["good"] != fb["bad"], "rehash buckets if this ever collides"
    weights = spark.createDataFrame(
        [(int(fb["good"]), 1_000_000_000), (int(fb["bad"]), -1_000_000_000)],
        "fb BIGINT, w_nano BIGINT",
    )
    out = {
        r.doc_id: r
        for r in curation.quality_logistic_scores(docs, weights).collect()
    }
    assert out[1].keep and not out[2].keep and out[3].keep
    # z is the exact integer mean weight: doc 3 = (3e9 - 1e9) DIV 4
    assert out[1].z_nano == 1_000_000_000
    assert out[2].z_nano == -1_000_000_000
    assert out[3].z_nano == 500_000_000
    assert out[1].score > 0.7 and out[2].score < 0.3
    # unweighted buckets drop out of the dot product (inner join):
    # a doc of only unknown tokens produces no row — the caller decides
    unk = spark.createDataFrame([(9, "zz zz")], ["doc_id", "text"])
    assert curation.quality_logistic_scores(unk, weights).count() == 0


# --------------------------------------------------- language scorer


def test_langid_confusion_on_disjoint_vocab(spark):
    # two "languages" with disjoint character sets -> every held-out doc
    # must score higher under its own language's model
    rows = []
    for i in range(200):
        rows.append((i, "aaa bbb aab abb baa " * 4, "aa", "s"))
    for i in range(200, 400):
        rows.append((i, "xxx yyy xxy xyy yxx " * 4, "xx", "s"))
    spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source"]
    ).createOrReplaceTempView("r9_langid_docs")
    conf = langid_confusion(spark, "r9_langid_docs").collect()
    assert len(conf) > 0
    for r in conf:
        assert r.true_lang == r.pred_lang, conf
        assert r.avg_best_logprob < 0
    # both splits non-empty per language (hash split sanity)
    assert {r.true_lang for r in conf} == {"aa", "xx"}


# --------------------------------------------- winnowing fingerprints


def test_winnowing_shared_substring_guarantee(spark):
    """The winnowing theorem: docs sharing a substring of length >=
    k + w - 1 (= 11 here) share at least one fingerprint; disjoint-
    alphabet docs share none."""
    from nyc_taxi_bigdata_pipeline_spark.benchqueries import dialect as D
    from nyc_taxi_bigdata_pipeline_spark.benchqueries.text_ops import (
        _WIN_K,
        _WIN_W,
        _winnow_fps_sql,
    )

    shared = "the quick brown fox jumps"
    rows = [
        (1, f"aaa aaa {shared} bbb bbb", "s"),
        (2, f"ccc ddd eee fff {shared}", "s"),
        (3, "zzz yyy xxx www vvv uuu qqq ppp", "s"),
    ]
    assert len(shared) >= _WIN_K + _WIN_W - 1
    spark.createDataFrame(rows, ["doc_id", "text", "source"]).createOrReplaceTempView(
        "r9_winnow_docs"
    )
    fps = spark.sql(_winnow_fps_sql(D.SPARK, "r9_winnow_docs")).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2], "shared substring must share a fingerprint"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])
    # storage bound sanity: far fewer fingerprints than k-gram positions
    n_positions = len(rows[0][1]) - _WIN_K + 1
    assert len(by_doc[1]) < n_positions


# --------------------------------------------- temperature mixture


def test_temperature_mixture_flattens_head(spark, sf_dir):
    from nyc_taxi_bigdata_pipeline_spark.benchqueries import REGISTRY

    rows = {
        r.lang: r
        for r in REGISTRY["dataset_temperature_mixture"]
        .spark_fn(spark, sf_dir)
        .collect()
    }
    big = max(rows.values(), key=lambda r: r.docs_in)
    small = min(rows.values(), key=lambda r: r.docs_in)
    assert big.docs_in > small.docs_in  # the lang skew exists
    # temperature flattening: the majority language keeps a SMALLER
    # fraction than the minority one (upsampling capped at 1.0)
    assert big.keep_frac < small.keep_frac <= 1.0
    # target shares flatter than proportional: big's share of the
    # sqrt-mass is below its share of the doc mass
    tot_docs = sum(r.docs_in for r in rows.values())
    assert big.target_share < big.docs_in / tot_docs
    assert small.target_share > small.docs_in / tot_docs
    for r in rows.values():
        assert 0 < r.docs_kept <= r.docs_in


def test_temperature_weights_helper(spark):
    from nyc_taxi_bigdata_pipeline_spark.operators.curation import (
        temperature_weights,
    )

    df = spark.createDataFrame(
        [(i, "big" if i < 90 else "small") for i in range(100)],
        ["doc_id", "source"],
    )
    w1 = temperature_weights(df, alpha=1.0)
    assert abs(w1["big"] - 0.9) < 1e-12  # alpha=1 -> proportional
    w0 = temperature_weights(df, alpha=0.0)
    assert abs(w0["big"] - 0.5) < 1e-12  # alpha=0 -> uniform
    wh = temperature_weights(df, alpha=0.5)
    assert 0.5 < wh["big"] < 0.9  # temperature sits between


# --------------------------------------------- Mann-Whitney U test


def _mwu_ref(xs_a, xs_b):
    """Pure-Python tie-corrected Mann-Whitney (normal approximation,
    no continuity correction — matches the query's documented form)."""
    from collections import Counter

    cnt = Counter(xs_a + xs_b)
    ranks, cum = {}, 0
    for v in sorted(cnt):
        t = cnt[v]
        ranks[v] = cum + (t + 1) / 2
        cum += t
    na, nb = len(xs_a), len(xs_b)
    ra = sum(ranks[v] for v in xs_a)
    ua = na * nb + na * (na + 1) / 2 - ra
    n = na + nb
    tie3 = sum(t**3 - t for t in cnt.values())
    var = na * nb / 12 * ((n + 1) - tie3 / (n * (n - 1)))
    return ua, (ua - na * nb / 2) / var**0.5


def test_mann_whitney_matches_closed_form(spark):
    from nyc_taxi_bigdata_pipeline_spark.benchqueries.stats_ops import _mwu_sql

    # arm a (even user_id): values shifted up vs arm b, with heavy ties
    xs_a = [float(v) for v in [3, 3, 4, 5, 5, 5, 6, 7, 8, 8, 9, 12]]
    xs_b = [float(v) for v in [1, 2, 2, 3, 3, 4, 4, 5, 6, 6]]
    rows = [("t0", v, 2 * i) for i, v in enumerate(xs_a)]
    rows += [("t0", v, 2 * i + 1) for i, v in enumerate(xs_b)]
    # a second group with IDENTICAL arms -> z == 0, not significant
    rows += [("t1", float(v), 2 * i) for i, v in enumerate([1, 2, 3, 4, 5])]
    rows += [("t1", float(v), 2 * i + 1) for i, v in enumerate([1, 2, 3, 4, 5])]
    spark.createDataFrame(
        rows, "event_type string, value double, user_id long"
    ).createOrReplaceTempView("r9_mwu_events")
    got = {r.event_type: r for r in spark.sql(_mwu_sql("r9_mwu_events")).collect()}

    ua, z = _mwu_ref(xs_a, xs_b)
    assert got["t0"].n_a == len(xs_a) and got["t0"].n_b == len(xs_b)
    assert got["t0"].u_a == ua
    assert abs(got["t0"].z_stat - z) < 2e-9
    assert bool(got["t0"].significant_95) == (abs(z) >= 1.96)

    ua1, z1 = _mwu_ref([1.0, 2, 3, 4, 5], [1.0, 2, 3, 4, 5])
    assert got["t1"].u_a == ua1
    assert got["t1"].z_stat == 0.0 and not got["t1"].significant_95


# --------------------------------------------- Kolmogorov-Smirnov


def test_ks_two_sample_matches_closed_form(spark):
    from nyc_taxi_bigdata_pipeline_spark.benchqueries.stats_ops import _KS_SQL

    xs_a = [float(v) for v in [1, 2, 2, 3, 5, 6, 6, 7, 8, 9]]
    xs_b = [float(v) for v in [9, 10, 11, 11, 12, 13, 15, 16, 17, 18, 20]]
    rows = [("t0", v, 2 * i) for i, v in enumerate(xs_a)]
    rows += [("t0", v, 2 * i + 1) for i, v in enumerate(xs_b)]
    rows += [("t1", float(v % 5), i) for i, v in enumerate(range(40))]  # same dist
    spark.createDataFrame(
        rows, "event_type string, value double, user_id long"
    ).createOrReplaceTempView("r9_ks_events")
    got = {
        r.event_type: r
        for r in spark.sql(_KS_SQL.format(table="r9_ks_events")).collect()
    }

    def ks_ref(a, b):
        vals = sorted(set(a + b))
        return max(
            abs(
                sum(1 for x in a if x <= v) / len(a)
                - sum(1 for x in b if x <= v) / len(b)
            )
            for v in vals
        )

    d = ks_ref(xs_a, xs_b)
    assert abs(got["t0"].ks_d - d) < 1e-12
    crit = 1.358 * ((len(xs_a) + len(xs_b)) / (len(xs_a) * len(xs_b))) ** 0.5
    assert bool(got["t0"].reject_95) == (d > crit)
    assert got["t0"].reject_95  # the planted shift is detectable
    # identical distributions across arms (v % 5 with user_id = index:
    # even/odd arms see the same multiset) -> D = 0, no rejection
    assert got["t1"].ks_d == 0.0 and not got["t1"].reject_95


# --------------------------------------------- PSI drift monitor


def test_psi_drift_detects_shift(spark):
    import datetime
    import math

    from nyc_taxi_bigdata_pipeline_spark.benchqueries import dialect as D
    from nyc_taxi_bigdata_pipeline_spark.benchqueries.stats_ops import _psi_sql

    d0 = datetime.datetime(2024, 1, 2)   # even epoch-day baseline
    d1 = datetime.datetime(2024, 1, 3)   # odd epoch-day current
    assert (d0.date() - datetime.date(1970, 1, 1)).days % 2 == 0
    rows = []
    # shifted: baseline uniform over [0, 50), current over [50, 100)
    for i in range(400):
        rows.append(("shift", d0, float(i % 50)))
        rows.append(("shift", d1, 50.0 + i % 50))
    # stable: identical distributions both days -> PSI exactly 0
    for i in range(400):
        rows.append(("stable", d0, float(i % 100)))
        rows.append(("stable", d1, float(i % 100)))
    spark.createDataFrame(
        rows, "event_type string, ts timestamp, value double"
    ).createOrReplaceTempView("r9_psi_events")
    got = {r.event_type: r for r in spark.sql(_psi_sql(D.SPARK, "r9_psi_events")).collect()}

    assert got["stable"].psi == 0.0 and not got["stable"].drifted_02
    assert got["shift"].drifted_02 and got["shift"].psi > 1.0

    # closed-form check for the shifted group (10 global bins over
    # [0, 100): baseline occupies bins 1-5, current 6-10; add-one)
    def share(c, n):
        return (c + 1) / (n + 10)

    psi = 0.0
    for b in range(10):
        cb = 80 if b < 5 else 0     # 400 baseline rows over 5 bins
        cc = 0 if b < 5 else 80
        pb, pc = share(cb, 400), share(cc, 400)
        # mirror the query's micro-nat snapping of the log term
        lnr = (
            round(math.log(cc + 1) * 1e6) - round(math.log(410) * 1e6)
            - round(math.log(cb + 1) * 1e6) + round(math.log(410) * 1e6)
        )
        psi += math.floor((pc - pb) * lnr * 1000.0 + 0.5)
    assert abs(got["shift"].psi - psi / 1e9) < 1e-12
