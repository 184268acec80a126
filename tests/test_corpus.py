"""The Arrow-vectorized tokenizer (``--pandas-udf``) and the Catalyst
tokenizer build the same occurrence tables."""

import pytest

from bluegraph_spark.sources.corpus import file_occurrences, token_occurrences

CONTENT = [
    "The Quick_Brown fox, and THE lazy dog!",
    "x = foo(bar_2) + 42; // it is not a test",
    "Straße naïve ÉCOLE İstanbul",
    "",
    None,
    "tabs\tand\nnewlines\r\nmixed-case MiXeD 007",
]


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        [(f"f{i}", c) for i, c in enumerate(CONTENT)], "file_id string, content string"
    )


@pytest.mark.parametrize("build", [file_occurrences, token_occurrences])
def test_pandas_udf_tokenizer_matches_catalyst(corpus, build):
    fast = build(corpus).collect()
    arrow = build(corpus, use_pandas_udf=True).collect()
    assert fast
    assert sorted(arrow) == sorted(fast)
