"""Compare the benchmark's generated tables with a reference set of the
registry tables (the testdata directories TESTDATA.md describes).

    python3 perfbench/datacheck.py --reference <dir with the ten parquet files> --sf 0.1 --seed 1

Prints, per table, the row counts and whether the parquet schemas
(physical and logical types, timestamp unit included) are equal; per
column, the distinct count, min, max and mean (string columns: mean
length; list columns: mean length) of both sets; and the row count of
every benchmark query's oracle result on both. Generated files go to a
temporary directory that is removed at the end.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

import duckdb
import pyarrow.parquet as pq

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(BENCH_DIR))
sys.dont_write_bytecode = True

import datagen  # noqa: E402
from workloads import TABLES, WORKLOADS  # noqa: E402


def column_stats(con, path: str) -> dict[str, tuple]:
    out = {}
    for name, typ, *_ in con.execute(f"DESCRIBE SELECT * FROM read_parquet('{path}')").fetchall():
        if typ.endswith("[]") or typ == "VARCHAR":
            value = f"length({name})" if typ == "VARCHAR" else f"len({name})"
            sql = f"SELECT count(DISTINCT {name}), NULL, NULL, avg({value})"
        else:
            mean = f"epoch_us({name})" if typ.startswith("TIMESTAMP") else name
            sql = f"SELECT count(DISTINCT {name}), min({name}), max({name}), avg({mean})"
        out[name] = con.execute(f"{sql} FROM read_parquet('{path}')").fetchone()
    return out


def oracle_rows(ref: str, gen: str) -> None:
    import __spark_entry__

    oracles = __spark_entry__.oracle_sql()
    names = sorted({q for w in WORKLOADS.values() for q in w.queries})
    for name in names:
        counts = []
        for d in (ref, gen):
            con = duckdb.connect()
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
            counts.append(len(con.execute(oracles[name]).fetchall()))
            con.close()
        print(f"oracle {name}: rows reference={counts[0]} generated={counts[1]}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--reference", required=True)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    with tempfile.TemporaryDirectory() as gen:
        datagen.write_tables(gen, args.sf, args.seed)
        con = duckdb.connect()
        for t in TABLES:
            ref_p, gen_p = (os.path.join(d, f"{t}.parquet") for d in (args.reference, gen))
            ref_f, gen_f = pq.ParquetFile(ref_p), pq.ParquetFile(gen_p)
            same = ref_f.schema.equals(gen_f.schema) and ref_f.schema_arrow.remove_metadata().equals(
                gen_f.schema_arrow.remove_metadata()
            )
            print(f"{t}: rows reference={ref_f.metadata.num_rows} "
                  f"generated={gen_f.metadata.num_rows} same_schema={same}")
            ref_s, gen_s = column_stats(con, ref_p), column_stats(con, gen_p)
            for col, r in ref_s.items():
                print(f"  {col}: reference={r} generated={gen_s.get(col)}")
        oracle_rows(args.reference, gen)
    return 0


if __name__ == "__main__":
    sys.exit(main())
