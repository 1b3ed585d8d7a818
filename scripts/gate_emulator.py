"""Driver-gate emulator: run every ``queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB at sf0.01 in registration order, timing
each, and report mismatches — a local stand-in for CORRECTNESS_r{N}.json
so driver truncation/timeout behavior is diagnosable before the round
ends. The DuckDB views and the canonical form come from
``tests/test_oracle_parity.py``; ``_vhash`` is the value hash to compare
a registry entry's output across commits.

Usage: python scripts/gate_emulator.py [key ...]   (default: all keys)
Exit code 0 when every key ran and every oracle hash matched, else 1.
"""

from __future__ import annotations

import hashlib
import json
import sys
import time
from pathlib import Path

import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from clickhouse_k_means_spark.session import get_spark  # noqa: E402
from tests.test_oracle_parity import ORACLES, QUERIES, _canon, _duck  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"


def _vhash(pdf: pd.DataFrame) -> str:
    h = hashlib.md5()
    for c in pdf.columns:
        col = pdf[c]
        if col.dtype == "float64":
            col = col.map(lambda v: f"{v:.9g}" if pd.notna(v) else "NaN")
        h.update(col.astype(str).str.cat(sep="\x1f").encode())
    return h.hexdigest()


def main(argv: list[str] | None = None) -> int:
    keys = list(sys.argv[1:] if argv is None else argv) or list(QUERIES)
    spark = get_spark("gate-emulator")
    con = _duck(SF_DIR)
    t_all = time.time()
    results: dict[str, dict] = {}
    for key in keys:
        t0 = time.time()
        row: dict = {}
        try:
            got = _canon(QUERIES[key](spark, SF_DIR).toPandas())
            t_spark = time.time() - t0
            row["spark_rows"] = len(got)
            row["spark_s"] = round(t_spark, 2)
            if key in ORACLES:
                t1 = time.time()
                want = _canon(con.execute(ORACLES[key]).df())
                row["oracle_s"] = round(time.time() - t1, 2)
                row["rows_match"] = len(got) == len(want)
                row["schema_match"] = list(got.columns) == list(want.columns)
                row["hash_match"] = (
                    row["rows_match"]
                    and row["schema_match"]
                    and _vhash(got) == _vhash(want)
                )
            else:
                row["no_oracle"] = True
        except Exception as e:  # noqa: BLE001
            row["err"] = f"{type(e).__name__}: {e}"[:300]
        row["total_s"] = round(time.time() - t0, 2)
        results[key] = row
        ok = row.get("hash_match", row.get("spark_rows") is not None)
        flag = "OK " if ok and "err" not in row else "BAD"
        print(f"{flag} {key:24s} {row.get('total_s', 0):7.2f}s  {row}", flush=True)
    con.close()
    print(f"\nTOTAL {time.time() - t_all:.1f}s over {len(keys)} queries")
    bad = {
        k: v
        for k, v in results.items()
        if v.get("err") or v.get("hash_match") is False
    }
    if bad:
        print("FAILURES:\n" + json.dumps(bad, indent=2))
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
