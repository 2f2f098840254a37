"""Processor semantics tests — pinned against reference behavior
(label-encoding order, imputation values, concat ordering; SURVEY.md §5)."""

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bears_spark.frame import SparkFrame
from bears_spark.processor import get_processor
from bears_spark.processor.categorical import LabelEncoding


def _apply1(spark, proc, values, name="c"):
    df = spark.createDataFrame(pd.DataFrame({name: values}))
    if not proc.is_fitted:
        proc.fit(df, [name])
    return [r["out"] for r in proc.apply(df, name, "out").select("out").collect()]


def test_case_transformation(spark):
    assert _apply1(spark, get_processor("case", case="upper"), ["ab", None]) == ["AB", None]
    assert _apply1(spark, get_processor("case", case="lower"), ["AB"]) == ["ab"]


def test_html_tag_removal(spark):
    assert _apply1(spark, get_processor("striphtml"), ["<b>hi</b> there<br/>"]) == ["hi there"]


def test_punctuation_cleaner(spark):
    assert _apply1(spark, get_processor("punctuationcleaner"), ["a,b.c!"]) == ["a b c "]


def test_regex_substitution(spark):
    proc = get_processor("regexsub", substitutions=[("[0-9]+", "#"), ("\\s+", "_")], ignorecase=True)
    assert _apply1(spark, proc, ["a 12 b34"]) == ["a_#_b#"]


def test_string_removal(spark):
    assert _apply1(spark, get_processor("stringremoval", removals=["foo", "-"]), ["a-foo-b"]) == ["ab"]


def test_quantile_binning(spark):
    vals = [float(i) for i in range(1, 101)]  # 1..100
    df = spark.createDataFrame(pd.DataFrame({"c": vals + [None]}))
    proc = get_processor("qbin", num_bins=4)
    proc.fit(df, ["c"])
    # R-7 quartiles of 1..100: 25.75 / 50.5 / 75.25
    assert proc.boundaries_ == [25.75, 50.5, 75.25]
    out = {r["c"]: r["out"] for r in proc.apply(df, "c", "out").collect()}
    assert out[25.0] == 0 and out[26.0] == 1 and out[50.0] == 1
    assert out[51.0] == 2 and out[76.0] == 3 and out[100.0] == 3
    assert out[None] is None
    with pytest.raises(ValueError):
        get_processor("qbin", num_bins=1)
    with pytest.raises(RuntimeError):
        get_processor("qbin").transform_expr(F.col("c"))


def test_pii_redaction(spark):
    text = "mail a.b+c@mail.co or 555-123-4567, host 192.168.0.1 end"
    assert _apply1(spark, get_processor("piiredact"), [text]) == [
        "mail <email> or <phone>, host <ipv4> end"
    ]
    # kinds subset: phones/IPs survive when only email is requested
    assert _apply1(spark, get_processor("piiredact", kinds=("email",)), [text]) == [
        "mail <email> or 555-123-4567, host 192.168.0.1 end"
    ]
    # custom sentinel + null passthrough
    assert _apply1(spark, get_processor("piiredact", sentinel="[{kind}]"), [None]) == [None]
    with pytest.raises(ValueError):
        get_processor("piiredact", kinds=("ssn",))


def test_label_affix(spark):
    proc = get_processor("labelaffix", prefix="<", suffix=">")
    assert _apply1(spark, proc, ["x", None]) == ["<x>", None]


def test_label_encoding_sorted_order(spark):
    # np.unique sort order parity (_LabelEncoding.py:126-151)
    proc = LabelEncoding(encoding_range="one_to_n")
    df = spark.createDataFrame(pd.DataFrame({"c": ["banana", "apple", "cherry", "apple"]}))
    proc.fit(df, ["c"])
    assert proc.label_map_ == {"apple": 1, "banana": 2, "cherry": 3}
    out = [r["out"] for r in proc.apply(df, "c", "out").select("out").collect()]
    assert out == [2, 1, 3, 1]


def test_label_encoding_unknown_sentinel(spark):
    proc = LabelEncoding(encoding_range="one_to_n")
    proc.fit(spark.createDataFrame(pd.DataFrame({"c": ["a", "b"]})), ["c"])
    test_df = spark.createDataFrame(pd.DataFrame({"c": ["a", "zzz"]}))
    out = [r["out"] for r in proc.apply(test_df, "c", "out").select("out").collect()]
    assert out == [1, 0]  # unknown -> 0 for one_to_n


def test_label_encoding_ranges(spark):
    df = spark.createDataFrame(pd.DataFrame({"c": ["n", "y"]}))
    pm = LabelEncoding(encoding_range="binary_plus_minus_one")
    pm.fit(df, ["c"])
    assert pm.label_map_ == {"n": -1, "y": 1}
    z = LabelEncoding(encoding_range="zero_to_n_minus_one")
    z.fit(df, ["c"])
    assert z.label_map_ == {"n": 0, "y": 1}
    with pytest.raises(ValueError):
        LabelEncoding(encoding_range="binary_zero_one").fit(
            spark.createDataFrame(pd.DataFrame({"c": ["a", "b", "c"]})), ["c"]
        )


def test_label_encoding_inverse(spark):
    proc = LabelEncoding(encoding_range="one_to_n")
    df = spark.createDataFrame(pd.DataFrame({"c": ["a", "b"]}))
    proc.fit(df, ["c"])
    enc = proc.apply(df, "c", "enc")
    dec = enc.withColumn("dec", proc.inverse_transform_expr(F.col("enc")))
    assert [r["dec"] for r in dec.select("dec").collect()] == ["a", "b"]


def test_categorical_imputation_mode(spark):
    proc = get_processor("catimpute", strategy="mode")
    assert _apply1(spark, proc, ["a", "b", "b", None]) == ["a", "b", "b", "b"]


def test_numeric_imputation(spark):
    vals = [1.0, 2.0, None, 4.0]
    assert _apply1(spark, get_processor("numimpute", strategy="mean"), vals)[2] == pytest.approx(7 / 3)
    assert _apply1(spark, get_processor("numimpute", strategy="median"), vals)[2] == 2.0
    assert _apply1(spark, get_processor("numimpute", strategy="min"), vals)[2] == 1.0
    assert _apply1(spark, get_processor("numimpute", strategy="max"), vals)[2] == 4.0
    assert _apply1(spark, get_processor("numimpute", strategy="constant", fill_value=-1.0), vals)[2] == -1.0
    assert _apply1(spark, get_processor("numimpute", strategy="mode"), [1.0, 1.0, None])[2] == 1.0


def test_text_concatenation_orders(spark):
    df = spark.createDataFrame(pd.DataFrame({"long": ["aaaaaa"], "sh": ["b"], "mid": ["ccc"]}))
    proc = get_processor("textconcat", sep="|", order="shortest_first")
    proc.fit(df, ["long", "sh", "mid"])
    expr = proc.transform_expr([F.col(c) for c in ["long", "sh", "mid"]], ["long", "sh", "mid"])
    out = df.withColumn("out", expr).first()["out"]
    assert out == "b|ccc|aaaaaa"
    # nulls -> '' and name ordering
    df2 = spark.createDataFrame(pd.DataFrame({"b_col": [None], "a_col": ["x"]}))
    p2 = get_processor("textconcat", sep="-", order="name_asc")
    p2.fit(df2, ["b_col", "a_col"])
    out2 = df2.withColumn("out", p2.transform_expr([F.col("b_col"), F.col("a_col")], ["b_col", "a_col"])).first()["out"]
    assert out2 == "x-"


def test_tfidf_sklearn_semantics(spark):
    texts = ["the cat sat", "the dog sat", "a bird flew"]
    df = spark.createDataFrame(pd.DataFrame({"t": texts}))
    proc = get_processor("tfidf", max_features=16)
    proc.fit(df, ["t"])
    out = proc.apply(df, "t", "vec").select("vec").collect()
    vecs = [r["vec"] for r in out]
    # vocabulary: sorted terms with len>=2 (sklearn token_pattern)
    assert proc.vocab_ == sorted(["the", "cat", "sat", "dog", "bird", "flew"])
    # l2 norm == 1 for non-empty docs
    for v in vecs:
        assert math.isqrt(0) == 0 and abs(sum(x * x for x in v) - 1.0) < 1e-9
    # idf: term in all docs has lowest weight
    n = 3
    idf_the = math.log((1 + n) / (1 + 2)) + 1
    idf_cat = math.log((1 + n) / (1 + 1)) + 1
    i_the, i_cat, i_sat = proc.vocab_.index("the"), proc.vocab_.index("cat"), proc.vocab_.index("sat")
    raw = [idf_cat, idf_the, idf_the * 0 + (math.log((1 + n) / (1 + 2)) + 1)]  # cat, the, sat for doc0
    norm = math.sqrt(sum(x * x for x in raw))
    assert vecs[0][i_cat] == pytest.approx(idf_cat / norm)
    assert vecs[0][i_the] == pytest.approx(idf_the / norm)


def test_vector_assembler(spark):
    pdf = pd.DataFrame({"b_arr": [[1.0, 2.0]], "a_num": [3]})
    df = spark.createDataFrame(pdf)
    proc = get_processor("vectorassembler")
    out = proc.apply(df, ["b_arr", "a_num"], "vec").first()["vec"]
    assert out == [3.0, 1.0, 2.0]  # sorted by name: a_num then b_arr


def test_vector_densifier_struct(spark):
    df = spark.sql("SELECT named_struct('size', 4, 'indices', array(1, 3), 'values', array(5.0, 7.0)) AS sv")
    proc = get_processor("densify")
    out = proc.apply(df, "sv", "dense").first()["dense"]
    assert out == [0.0, 5.0, 0.0, 7.0]


def test_sparkml_tfidf(spark):
    df = spark.createDataFrame(pd.DataFrame({"t": ["cat dog cat", "dog bird", "cat cat cat"]}))
    proc = get_processor("tfidfml", vocab_size=16)
    proc.fit(df, ["t"])
    assert set(proc.vocabulary) == {"cat", "dog", "bird"}
    out = proc.apply(df, "t", "vec").select("vec").collect()
    dim = len(out[0]["vec"])
    assert dim == 3
    # doc 2 ("cat cat cat") has weight only on 'cat'
    cat_idx = proc.vocabulary.index("cat")
    v2 = out[2]["vec"]
    assert v2[cat_idx] >= 0 and sum(1 for x in v2 if x != 0.0) == 1


def test_label_encoding_cardinality_guard(spark):
    """High-cardinality column fails fast at fit (VERDICT r3 #5) instead of
    collecting the vocabulary to the driver."""
    import pytest

    df = spark.range(5000).selectExpr("cast(id as string) as v")
    proc = LabelEncoding(encoding_range="one_to_n", max_cardinality=1000)
    with pytest.raises(ValueError, match="encode_labels_join"):
        proc.fit(df, ["v"])
    # raising the threshold deliberately still works
    ok = LabelEncoding(encoding_range="one_to_n", max_cardinality=10_000)
    ok.fit(df, ["v"])
    assert len(ok.label_map_) == 5000


def test_encode_labels_join_matches_literal_map(spark):
    """The join-based high-cardinality variant must agree exactly with the
    literal-map LabelEncoding on the same data (np.unique order, sentinels)."""
    from bears_spark.processor.categorical import encode_labels_join

    import pyspark.sql.functions as F

    train = spark.createDataFrame(
        [("b",), ("a",), ("c",), ("a",), (None,)], "v string"
    )
    test = spark.createDataFrame([("a",), ("c",), ("zz",), (None,)], "v string")

    proc = LabelEncoding(encoding_range="one_to_n")
    proc.fit(train, ["v"])
    lit_out = {
        r["v"]: r["code"]
        for r in test.select("v", proc.transform_expr(F.col("v")).alias("code")).collect()
    }
    join_out = {
        r["v"]: r["code"]
        for r in encode_labels_join(test, "v", output_col="code", fit_df=train).collect()
    }
    assert lit_out == join_out
    assert join_out["a"] == 1 and join_out["c"] == 3  # a=1,b=2,c=3
    assert join_out["zz"] == 0  # unknown sentinel for one_to_n
    assert join_out[None] is None


# ---------------------------------------------------------------------------
# scalers (beyond-reference: StandardScaling / MinMaxScaling / RobustScaling)


def _scaled(spark, proc, values, col="v"):
    import pyspark.sql.functions as F

    df = spark.createDataFrame([(float(v),) if v is not None else (None,) for v in values], f"{col} double")
    proc.fit(df, [col])
    return [r["out"] for r in df.select(proc.transform_expr(F.col(col)).alias("out")).collect()]


def test_standard_scaling_matches_sklearn_semantics(spark):
    """Population std (ddof=0), null passthrough, constant column -> 0."""
    from bears_spark.processor.numeric import StandardScaling

    import numpy as np

    vals = [1.0, 2.0, 3.0, 4.0, None]
    out = _scaled(spark, StandardScaling(), vals)
    arr = np.array([v for v in vals if v is not None])
    expect = (arr - arr.mean()) / arr.std()  # numpy default ddof=0 == sklearn
    assert out[-1] is None
    assert np.allclose(out[:4], expect)
    # constant column: scale_ falls back to 1 -> all zeros, no div-by-zero
    assert _scaled(spark, StandardScaling(), [5.0, 5.0, 5.0]) == [0.0, 0.0, 0.0]


def test_minmax_scaling_range_and_constant(spark):
    from bears_spark.processor.numeric import MinMaxScaling

    out = _scaled(spark, MinMaxScaling(), [0.0, 5.0, 10.0, None])
    assert out == [0.0, 0.5, 1.0, None]
    out = _scaled(spark, MinMaxScaling(feature_range=(-1.0, 1.0)), [0.0, 5.0, 10.0])
    assert out == [-1.0, 0.0, 1.0]
    # constant column maps everything to range low (sklearn convention)
    assert _scaled(spark, MinMaxScaling(feature_range=(2.0, 3.0)), [7.0, 7.0]) == [2.0, 2.0]
    import pytest

    with pytest.raises(ValueError):
        MinMaxScaling(feature_range=(1.0, 1.0))


def test_robust_scaling_iqr_and_zero_iqr(spark):
    from bears_spark.processor.numeric import RobustScaling

    # median=2.5, q1=1.75, q3=3.25 -> iqr=1.5 (linear interpolation)
    out = _scaled(spark, RobustScaling(), [1.0, 2.0, 3.0, 4.0])
    assert out == [(-1.5) / 1.5, (-0.5) / 1.5, 0.5 / 1.5, 1.5 / 1.5]
    # >half-constant column: iqr=0 -> scale 1, outlier keeps its offset
    out = _scaled(spark, RobustScaling(), [5.0, 5.0, 5.0, 5.0, 9.0])
    assert out == [0.0, 0.0, 0.0, 0.0, 4.0]


def test_scalers_in_registry(spark):
    from bears_spark.processor.base import get_processor

    for name in ("zscale", "min_max_scaler", "RobustScaling"):
        assert get_processor(name) is not None


# --- supervised encoders ----------------------------------------------------


def _enc_frame(spark, targets):
    rows = [
        ("a", 0, targets[0]), ("a", 0, targets[1]),
        ("a", 1, 10.0), ("a", 1, 20.0),
        ("b", 0, 100.0), ("b", 1, 200.0),
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["cat", "fold", "y"]))


def test_target_encode_kfold_out_of_fold_math(spark):
    from bears_spark.processor.encoders import target_encode_kfold

    df = _enc_frame(spark, [1.0, 3.0])
    out = {
        (r["cat"], r["fold"]): r["enc"]
        for r in target_encode_kfold(df, "cat", "y", "fold", smoothing=2.0).collect()
    }
    # enc(a,0): oof over cat a = rows (a,1): sum 30, n 2; global-minus-self
    # prior = (4+30+300) - 4 over 6 - 2 = 330/4 = 82.5
    assert out[("a", 0)] == pytest.approx((30 + 2 * 82.5) / (2 + 2))
    # enc(b,0): oof over cat b = (b,1): 200/1; prior = (334-100)/(6-1)=46.8
    assert out[("b", 0)] == pytest.approx((200 + 2 * 46.8) / (1 + 2))


def test_target_encode_kfold_is_leakage_safe(spark):
    from bears_spark.processor.encoders import target_encode_kfold

    base = target_encode_kfold(_enc_frame(spark, [1.0, 3.0]), "cat", "y", "fold", 2.0)
    pert = target_encode_kfold(_enc_frame(spark, [500.0, -70.0]), "cat", "y", "fold", 2.0)
    b = {(r["cat"], r["fold"]): r["enc"] for r in base.collect()}
    p = {(r["cat"], r["fold"]): r["enc"] for r in pert.collect()}
    # (a,0) rows' own targets changed: every OTHER cell's encoding moves,
    # except cells that exclude those rows... only (a,0) must NOT see its
    # own targets change through oof_sum; its prior ALSO excludes itself,
    # so enc(a,0) is fully invariant to its own fold's targets.
    assert b[("a", 0)] == pytest.approx(p[("a", 0)])
    assert b[("a", 1)] != pytest.approx(p[("a", 1)])


def test_woe_iv_math(spark):
    from bears_spark.processor.encoders import woe_iv

    df = spark.createDataFrame(
        pd.DataFrame({"cat": ["a"] * 4 + ["b"] * 4, "y": [1, 1, 1, 0, 0, 0, 0, 1]})
    )
    out = {r["cat"]: (r["woe"], r["iv_term"]) for r in woe_iv(df, "cat", "y", alpha=0.5).collect()}
    pp_a, pn_a = (3 + 0.5) / (4 + 0.5), (1 + 0.5) / (4 + 0.5)
    assert out["a"][0] == pytest.approx(math.log(pp_a / pn_a))
    assert out["a"][1] == pytest.approx((pp_a - pn_a) * math.log(pp_a / pn_a))
    # symmetric label balance -> woe(b) = -woe(a)
    assert out["b"][0] == pytest.approx(-out["a"][0])


# --- fit phases and waves -----------------------------------------------------


def _fit_state(proc):
    return {k: v for k, v in vars(proc).items() if k != "params"}


def test_shared_wave_state_equals_standalone_fit(spark, monkeypatch):
    """Every aggregate-phase processor stores exactly the same state when
    its phases share waves with other fits as when it fits alone."""
    import numpy as np

    from bears_spark.processor.base import fit_together
    from bears_spark.processor.categorical import CategoricalMissingValueImputation
    from bears_spark.processor.numeric import (
        MinMaxScaling,
        NumericMissingValueImputation,
        QuantileBinning,
        RobustScaling,
        StandardScaling,
    )

    rng = np.random.default_rng(3)
    n = 3000
    x = rng.normal(10.0, 3.0, n)
    x[rng.random(n) < 0.1] = np.nan
    pdf = pd.DataFrame(
        {
            "x": pd.Series(x).astype(object).where(~np.isnan(x), None),
            "k": rng.integers(0, 7, n),
            "s": rng.choice(["ab", "c", "defg", None], n),
            "t": rng.choice(["xyzzy", "q"], n),
        }
    )
    # 4 fixed slices: a round-robin repartition would place rows by the
    # projected columns, so sums over x would depend on what else is aggregated
    df = spark.createDataFrame(pdf, "x double, k long, s string, t string")
    assert df.rdd.getNumPartitions() > 1

    def procs():
        return [
            (NumericMissingValueImputation(strategy="mean"), ["x"]),
            (NumericMissingValueImputation(strategy="median"), ["x"]),
            (NumericMissingValueImputation(strategy="min"), ["x"]),
            (NumericMissingValueImputation(strategy="max"), ["x"]),
            (NumericMissingValueImputation(strategy="mode"), ["k"]),
            (StandardScaling(), ["x"]),
            (MinMaxScaling(), ["x"]),
            (RobustScaling(), ["x"]),
            (QuantileBinning(num_bins=5), ["x"]),
            (get_processor("textconcat", order="shortest_first"), ["t", "s"]),
            (LabelEncoding(), ["s"]),
            (CategoricalMissingValueImputation(), ["s"]),
        ]

    shared = procs()
    agg_sizes = []
    real_agg = type(df).agg
    monkeypatch.setattr(type(df), "agg", lambda self, *exprs: agg_sizes.append(len(exprs)) or real_agg(self, *exprs))
    fit_together(df, shared)
    monkeypatch.undo()
    assert len(agg_sizes) == 2  # LabelEncoding's two phases set the wave count
    for (alone, cols), (together, _) in zip(procs(), shared):
        alone.fit(df, cols)
        assert together.is_fitted
        assert _fit_state(together) == _fit_state(alone), type(alone).__name__


@pytest.mark.parametrize(
    "ddl, values, expected",
    [
        ("long", [3, 1, 3, 1, 2, None, None, None], 1),
        ("string", ["b", "a", "b", "a", None, None, None], "a"),
        ("string", ["B", "a", "a", "B"], "B"),
        ("double", [float("nan"), float("nan"), 2.0, 2.0, -1.0], 2.0),  # NaN sorts last
        ("double", [1.0, 0.0, -0.0, 1.0], 0.0),  # -0.0 and 0.0 are one value, tied with 1.0
    ],
)
def test_mode_imputation_ties_pick_smallest(spark, ddl, values, expected):
    """Mode fits keep the group-by semantics: most frequent, ties -> the
    smallest value, NaN ordered after every number, signed zeros merged."""
    from bears_spark.processor.categorical import CategoricalMissingValueImputation
    from bears_spark.processor.numeric import NumericMissingValueImputation

    df = spark.createDataFrame([(v,) for v in values], f"c {ddl}").repartition(3)
    imputers = [CategoricalMissingValueImputation(strategy="mode")]
    if ddl != "string":
        imputers.append(NumericMissingValueImputation(strategy="mode"))
    for proc in imputers:
        proc.fit(df, ["c"])
        assert proc.fill_ == expected and type(proc.fill_) is type(expected)
        if isinstance(expected, float):
            assert math.copysign(1.0, proc.fill_) == 1.0
    nan_only = spark.createDataFrame([(float("nan"),), (float("nan"),), (2.0,)], "c double")
    assert math.isnan(NumericMissingValueImputation(strategy="mode").fit(nan_only, ["c"]).fill_)
