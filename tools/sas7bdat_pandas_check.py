#!/usr/bin/env python3
"""Read every committed sas7bdat fixture with pandas.read_sas and compare
it cell by cell with its golden CSV.

The fixtures under src/main/resources/sas7bdat/ are written by the
test-scope SasBdatWriter, and SasBdatSpec reads them back with the
engine's own SasBdatIo. This script is the independent leg: pandas'
reader shares no code with either, so a layout or codec fault shared by
the writer and SasBdatIo shows up here. Needs pandas; run from the repo
root:

    python3 tools/sas7bdat_pandas_check.py

Datetimes are compared at millisecond precision, the resolution pandas
converts SAS second serials to. Exit status 1 on any mismatch.
"""
import math
import pathlib
import sys

import pandas as pd

FIXTURES = pathlib.Path("src/main/resources/sas7bdat")
GOLDENS = pathlib.Path("src/test/resources/sas7bdat")


def golden_name(fixture: str) -> str:
    return fixture.split("_")[0]


def check(path: pathlib.Path) -> list:
    name = golden_name(path.stem)
    enc = "utf-8" if name == "test16" else "latin1"
    got = pd.read_sas(path, format="sas7bdat", encoding=enc)
    want = pd.read_csv(GOLDENS / f"{name}.csv", dtype=str,
                       keep_default_na=False, encoding="utf-8")
    problems = []
    if list(got.columns) != list(want.columns):
        return [f"{path.name}: columns {list(got.columns)}"]
    if len(got) != len(want):
        return [f"{path.name}: {len(got)} rows, golden {len(want)}"]
    for c in want.columns:
        g, w = got[c], want[c]
        for i in range(len(w)):
            cell, val = w.iloc[i], g.iloc[i]
            if cell == "":
                ok = val is None or (isinstance(val, float) and math.isnan(val)) \
                    or val is pd.NaT or (isinstance(val, str) and val == "")
            elif pd.api.types.is_datetime64_any_dtype(g):
                ok = pd.Timestamp(cell).round("ms") == pd.Timestamp(val).round("ms")
            elif pd.api.types.is_float_dtype(g):
                ok = float(cell) == val
            else:
                ok = cell == val
            if not ok:
                problems.append(f"{path.name}: {c}[{i}] = {val!r}, golden {cell!r}")
    return problems


def main() -> int:
    files = sorted(FIXTURES.glob("*.sas7bdat"))
    if not files:
        print(f"no fixtures under {FIXTURES}")
        return 1
    bad = 0
    for f in files:
        problems = check(f)
        bad += len(problems)
        print(f"{f.name}: {'ok' if not problems else f'{len(problems)} mismatches'}")
        for p in problems[:5]:
            print("  " + p)
    print(f"{len(files)} fixtures, {bad} mismatching cells")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
