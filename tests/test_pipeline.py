"""DataPipeline resolution + execution tests (_DataPipeline.py parity)."""

import pandas as pd
import pytest

from bears_spark.pipeline import DataPipeline, PipelineStepConfig, filter_schema_by_input_patterns
from bears_spark.types import MLType


def test_filter_schema_patterns():
    schema = {"name2": MLType.TEXT, "name10": MLType.TEXT, "age": MLType.INT, "bio": MLType.TEXT}
    # numeric-aware ordering: name2 before name10
    assert filter_schema_by_input_patterns(schema, "name.*") == ["name2", "name10"]
    # MLType selection
    assert filter_schema_by_input_patterns(schema, "INT") == ["age"]
    # case-insensitive regex
    assert filter_schema_by_input_patterns(schema, "BIO") == ["bio"]


def test_pipeline_fit_transform(spark):
    pdf = pd.DataFrame(
        {
            "title": ["<b>Hello</b> World", "FOO bar", None],
            "category": ["b", "a", "b"],
            "price": [1.0, None, 3.0],
        }
    )
    df = spark.createDataFrame(pdf)
    pipe = DataPipeline(
        [
            PipelineStepConfig(input="title", transformer="striphtml", output="{col_name}_clean"),
            PipelineStepConfig(input="title_clean", transformer="case", output="{col_name}_lower", params={"case": "lower"}),
            PipelineStepConfig(input="category", transformer="labelencoding", output="{col_name}_enc"),
            PipelineStepConfig(input="price", transformer="numimpute", output="{col_name}_filled", params={"strategy": "mean"}),
        ]
    )
    out = pipe.fit_transform(df).toPandas()
    assert out["title_clean"].tolist()[0] == "Hello World"
    assert out["title_clean_lower"].tolist()[0] == "hello world"
    assert out["category_enc"].tolist() == [2, 1, 2]
    assert out["price_filled"].tolist()[1] == 2.0
    assert len(pipe.perf) == 4

    # transform mode reuses fitted state
    df2 = spark.createDataFrame(pd.DataFrame({"title": ["X"], "category": ["zzz"], "price": [None]}, dtype=object).assign(price=lambda d: d["price"].astype(float)))
    out2 = pipe.transform(df2).toPandas()
    assert out2["category_enc"].tolist() == [0]  # unknown sentinel
    assert out2["price_filled"].tolist() == [2.0]  # train-time mean


def test_pipeline_regex_fanout(spark):
    df = spark.createDataFrame(pd.DataFrame({"f1": ["A"], "f2": ["B"], "other": [1]}))
    pipe = DataPipeline([PipelineStepConfig(input="f[0-9]", transformer="case", output="{col_name}_l", params={"case": "lower"})])
    out = pipe.fit_transform(df).toPandas()
    assert out["f1_l"].tolist() == ["a"] and out["f2_l"].tolist() == ["b"]


def test_pipeline_nto1(spark):
    df = spark.createDataFrame(pd.DataFrame({"t1": ["a"], "t2": ["b"]}))
    pipe = DataPipeline([PipelineStepConfig(input="t[0-9]", transformer="textconcat", output="joined", params={"sep": " "})])
    out = pipe.fit_transform(df).toPandas()
    assert out["joined"].tolist() == ["a b"]


def test_missing_column_behavior(spark):
    df = spark.createDataFrame(pd.DataFrame({"x": [1]}))
    err = DataPipeline([PipelineStepConfig(input="nope", transformer="case")])
    with pytest.raises(ValueError):
        err.fit_transform(df)
    skip = DataPipeline([PipelineStepConfig(input="nope", transformer="case")], missing_column_behavior="skip")
    assert skip.fit_transform(df).columns == ["x"]


def test_from_config(spark, tmp_path):
    import json

    cfg = {
        "pipeline": [
            {"input": "t", "transformer": "case", "output": "{col_name}_u", "params": {"case": "upper"}},
        ],
        "missing_column_behavior": "skip",
    }
    p = tmp_path / "pipe.json"
    p.write_text(json.dumps(cfg))
    pipe = DataPipeline.from_config(str(p))
    df = spark.createDataFrame(pd.DataFrame({"t": ["x"]}))
    assert pipe.fit_transform(df).toPandas()["t_u"].tolist() == ["X"]


def test_mltype_input_selection(spark):
    df = spark.createDataFrame(pd.DataFrame({"s": ["a"], "n": [1.5]}))
    pipe = DataPipeline([PipelineStepConfig(input="FLOAT", transformer="numimpute", output="{col_name}_f")])
    out = pipe.fit_transform(df)
    assert "n_f" in out.columns


def test_round5_quality_processors_in_pipeline(spark):
    """The round-5 corpus signals as config-driven pipeline stages: token
    count, language id, Gopher flag, zlib ratio — one DataPipeline pass."""
    from bears_spark.pipeline import DataPipeline

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog and runs far away today"),
            (2, "spam " * 60),
            (3, "der schnelle braune fuchs springt und die hunde laufen mit ihnen heute"),
        ],
        "doc_id long, text string",
    )
    pipe = DataPipeline.from_config(
        {
            "pipeline": [
                {"input": "text", "transformer": "token_count", "output": "n_tok"},
                {"input": "text", "transformer": "lang_id", "output": "lang"},
                {"input": "text", "transformer": "gopher_quality", "output": "keep"},
                {"input": "text", "transformer": "zlib_ratio", "output": "zr"},
            ]
        }
    )
    out = {r["doc_id"]: r for r in pipe.fit_transform(df).collect()}
    assert out[1]["n_tok"] == 14 and out[1]["lang"] == "en" and out[1]["keep"]
    assert out[3]["lang"] == "de"
    assert not out[2]["keep"]  # repetition fails the distinct-word rule
    assert out[2]["zr"] < 0.15 < out[1]["zr"]  # boilerplate compresses away


# --- fit waves ------------------------------------------------------------------


@pytest.fixture
def agg_calls(spark, monkeypatch):
    """Records the aggregate expressions of every DataFrame.agg call."""
    cls = type(spark.range(1))
    real = cls.agg
    calls: list[list[str]] = []

    def spy(self, *exprs):
        calls.append([str(e) for e in exprs])
        return real(self, *exprs)

    monkeypatch.setattr(cls, "agg", spy)
    return calls


_NUMERIC = "l_(quantity|extendedprice|discount|tax|linenumber)"
FEATURE_CONFIG = {
    "pipeline": [
        {"input": _NUMERIC, "transformer": "numimpute", "output": "{col_name}_f", "params": {"strategy": "mean"}},
        {"input": _NUMERIC + "_f", "transformer": "standardscaling", "output": "{col_name}_z"},
        {"input": "l_(returnflag|linestatus)", "transformer": "labelencoding", "output": "{col_name}_id"},
        {"input": ".*_(z|id)", "transformer": "vectorassembler", "output": "features"},
    ]
}


def test_feature_pipeline_fits_in_two_waves(spark, agg_calls):
    """Imputation means and label guards share wave 1; scaler moments and
    label sets share wave 2; the assembler needs no fit."""
    import numpy as np

    rows = [
        (float(q), q * 10.5, 0.01 * (q % 5), 0.02 * (q % 3), q % 7 + 1, "ARN"[q % 3], "OF"[q % 2])
        for q in range(1, 41)
    ]
    rows[3] = (None, *rows[3][1:])
    df = spark.createDataFrame(
        rows,
        "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
        "l_linenumber int, l_returnflag string, l_linestatus string",
    )
    pipe = DataPipeline.from_config(FEATURE_CONFIG)
    out = pipe.fit_transform(df)
    assert len(agg_calls) == 2
    assert sum("avg" in e for e in agg_calls[0]) == 5 and sum("approx_count_distinct" in e for e in agg_calls[0]) == 2
    assert sum("stddev_pop" in e for e in agg_calls[1]) == 5 and sum("collect_set" in e for e in agg_calls[1]) == 2
    assert [p.fit_ms > 0 for p in pipe.perf] == [True, True, True, False]

    feats = np.array([r["features"] for r in out.select("features").collect()])
    q = np.array([r[0] for r in rows], dtype=float)
    q[np.isnan(q)] = np.nanmean(q)
    # features are sorted by column name: l_quantity_f_z is 5th, l_returnflag_id 6th
    assert np.allclose(feats[:, 4], (q - q.mean()) / q.std())
    assert sorted(set(feats[:, 5])) == [1.0, 2.0, 3.0]


def test_label_guard_in_shared_wave_raises_before_label_set(spark, agg_calls):
    df = spark.range(200).selectExpr("cast(id as string) as code", "cast(id as double) as x")
    pipe = DataPipeline(
        [
            PipelineStepConfig(input="x", transformer="numimpute", output="x_f"),
            PipelineStepConfig(input="code", transformer="labelencoding", params={"max_cardinality": 20}),
        ]
    )
    with pytest.raises(ValueError, match="column 'code'"):
        pipe.fit_transform(df)
    assert len(agg_calls) == 1 and len(agg_calls[0]) == 2  # avg(x) beside the guard
    assert not any("collect_set" in e for call in agg_calls for e in call)


def test_wave_waits_for_earlier_step_writing_its_input(spark, agg_calls):
    """A step that scales x after x is imputed in place fits on the imputed
    values, one wave later; a scaler on an untouched column joins wave 1."""
    df = spark.createDataFrame([(1.0, 1.0), (2.0, 2.0), (None, 4.0), (5.0, 5.0)], "x double, y double")
    pipe = DataPipeline(
        [
            PipelineStepConfig(input="x", transformer="numimpute", params={"strategy": "max"}),
            PipelineStepConfig(input="[xy]", transformer="standardscaling", output="{col_name}_z"),
        ]
    )
    pipe.fit_transform(df)
    (_, (imp,)), (_, (sx, sy)) = pipe._resolved
    assert imp[0].fill_ == 5.0
    assert sx[0].mean_ == (1.0 + 2.0 + 5.0 + 5.0) / 4  # not the raw mean 8/3
    assert sy[0].mean_ == 3.0
    assert len(agg_calls) == 2
    assert sorted(agg_calls[0]) == sorted(["Column<'max(x)'>", "Column<'avg(y)'>", "Column<'stddev_pop(y)'>"])
    assert sorted(agg_calls[1]) == sorted(["Column<'avg(x)'>", "Column<'stddev_pop(x)'>"])
