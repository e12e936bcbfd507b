#!/usr/bin/env python3
"""Records expected output fingerprints for a fixture workload.

Usage:
  python3 perfbench/record.py RESULTS_DIR DATA_DIR OUT_JSON q1 q2 ...

RESULTS_DIR holds one parquet dir per query, as the harness (or
graft.Verify) writes them, plus the `oracle_sql.json` of the DuckDB
twins. Run `tools/check.py DATA_DIR RESULTS_DIR q1 q2 ...` first: only
queries it passes belong in the file. This script fingerprints each
Spark output, fingerprints its DuckDB twin over DATA_DIR, and refuses
to write unless the two agree for every query.
"""
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import outputs  # noqa: E402


def main():
    results, data, dest = (Path(a) for a in sys.argv[1:4])
    queries = sorted(sys.argv[4:])
    sqls = json.loads((results / "oracle_sql.json").read_text())
    twin = outputs.twins(data, {q: sqls[q] for q in queries})
    spark = {q: outputs.spark_output(results / q) for q in queries}
    bad = [q for q in queries if not outputs.same(spark[q], twin[q])]
    if bad:
        sys.exit(f"Spark output and DuckDB twin differ for: {', '.join(bad)}")
    dest.write_text(json.dumps(spark, indent=1, sort_keys=True) + "\n")
    print(f"recorded {len(queries)} fingerprints in {dest}")


if __name__ == "__main__":
    main()
