"""tokenize_series is the one tokenizer: the segment build and BM25Oracle
both call it, so a drift in it re-tokenizes every index while every
engine-vs-oracle parity test still agrees. These literal token lists pin
its edge cases."""

from __future__ import annotations

import pandas as pd

from jvector_spark.functions.tokenizer import tokenize_series


def test_tokenize_series_edge_cases():
    code = pd.Series([
        "9abc 123 _x 1a2b x9y9 __init__ A9B",   # leading digits / all-digit
        "", "   ", "éclair naïve 日本語 foo",    # non-ASCII separators
        "UPPER lower MiXeD", None, "a" * 5000,
        "tab\tsep\nnewline,comma;semi(paren)",
        # lowering that introduces ASCII letters: U+0130 (İ) lowers to
        # 'i' + U+0307 (a separator), U+212A (Kelvin sign) to plain 'k'
        "İstanbul Kelvin İİ xK",
    ])
    assert tokenize_series(code, "code").tolist() == [
        ["abc", "_x", "a2b", "x9y9", "__init__", "a9b"],
        [],
        [],
        ["clair", "na", "ve", "foo"],
        ["upper", "lower", "mixed"],
        [],
        ["a" * 5000],
        ["tab", "sep", "newline", "comma", "semi", "paren"],
        ["i", "stanbul", "kelvin", "i", "i", "xk"],
    ]

    simple = pd.Series(["alpha beta  gamma", "", " x ", "solo", None,
                        "a b c d e"])
    assert tokenize_series(simple, "simple").tolist() == [
        ["alpha", "beta", "gamma"], [], ["x"], ["solo"], [],
        ["a", "b", "c", "d", "e"],
    ]
