"""Record the expected output digest of every benchmark query from its
DuckDB oracle (``registry.oracle_sql()``).

    python3 sparkbench/record_expected.py [TABLE_DIR]

TABLE_DIR defaults to $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.1. The
digests land in sparkbench/expected.json; the benchmark's first pass
compares each query's Spark result against them.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

from check import digest  # noqa: E402
from run import DEFAULT_SF_DIR  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def main() -> None:
    import duckdb

    from datatransformertools_spark import registry
    from datatransformertools_spark.sources.tables import TABLE_NAMES

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    oracles = registry.oracle_sql()
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    expected = {}
    for name in sorted({q for w in WORKLOADS.values() for q in w}):
        rel = con.sql(oracles[name])
        expected[name] = digest(list(rel.columns), rel.fetchall())
        print(name, expected[name]["rows"], file=sys.stderr)
    out = {"tables": os.path.basename(sf_dir.rstrip("/")), "queries": expected}
    (HERE / "expected.json").write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
