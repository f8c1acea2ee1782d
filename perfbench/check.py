"""Result comparison: row count, sorted column names and the md5 of the
sorted, canonically rendered rows — the same shape the suite's oracle
harness compares."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd


def _render(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NULL" if math.isnan(v) else repr(v)
    return str(v)


def canonical(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf[sorted(pdf.columns)].copy()
    for c in out.columns:
        s = out[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            ints = s.astype("datetime64[us]").astype("int64")
            out[c] = [None if pd.isna(x) else int(i) for x, i in zip(s, ints)]
        elif pd.api.types.is_float_dtype(s):
            out[c] = [None if np.isnan(x) else float(x) for x in s]
        else:
            out[c] = [None if x is None or x is pd.NA else x for x in s]
    return out


def digest(pdf: pd.DataFrame) -> tuple[int, tuple[str, ...], str]:
    c = canonical(pdf)
    rows = sorted("|".join(_render(v) for v in r) for r in c.itertuples(index=False))
    return len(rows), tuple(c.columns), hashlib.md5("\n".join(rows).encode()).hexdigest()


class Checks:
    """Named pass/fail results; every check counts as one attempted
    operation and a failed one as one failed operation."""

    def __init__(self):
        self.results: list[tuple[str, bool, str]] = []

    def expect(self, name: str, ok: bool, detail: str = "") -> bool:
        self.results.append((name, bool(ok), detail))
        return bool(ok)

    def same(self, name: str, got: pd.DataFrame, want: pd.DataFrame) -> bool:
        g, w = digest(got), digest(want)
        return self.expect(name, g == w, "" if g == w else f"got {g} want {w}")

    @property
    def failed(self) -> list[tuple[str, bool, str]]:
        return [r for r in self.results if not r[1]]
