"""Vectorized tokenizers (pandas over Arrow batches — no per-row loops).

The reference has no string functions at all (its 'row value' is a float32
vector, jvector-base/.../vector/types/VectorFloat.java); the tokenizer is our
engine's single string operator, specified by the north star as a vectorized
Arrow UDF over `content`.

Two modes:
  * ``code``   — source-code identifiers: ``[A-Za-z_][A-Za-z0-9_]*``,
                 lowercased (rank stability across casing conventions).
  * ``simple`` — whitespace split (used for the driver ``documents`` table so
                 the DuckDB oracle `string_split(text, ' ')` matches exactly).

Both are implemented with ``pd.Series.str`` vectorized ops (C-level regex
loop inside pandas, Arrow batch transport) — the Python analog of keeping the
kernel out of the interpreter the way the reference keeps scoring inside
Panama SIMD (jvector-twenty/.../PanamaVectorUtilSupport.java).
"""

from __future__ import annotations

import re

import pandas as pd

CODE_TOKEN_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def tokenize_series(content: pd.Series, mode: str = "code") -> pd.Series:
    """Series[str] -> Series[list[str]] — shared by operators and oracle."""
    if mode == "code":
        return content.fillna("").str.lower().str.findall(CODE_TOKEN_RE)
    if mode == "simple":
        # match DuckDB string_split(text, ' '): split on single spaces,
        # drop empty tokens (DuckDB keeps them; our texts have single spaces)
        return content.fillna("").str.split(" ").map(
            lambda toks: [t for t in toks if t]
        )
    raise ValueError(f"unknown tokenizer mode: {mode}")

