#!/usr/bin/env python3
"""Adaptive-pHash geometry parity probe (round 9).

The three pHash oracles derive their band geometry from count(*)
(Multimodal.phashOracleBandsCte); the full all-pairs oracle replay is
quadratic and infeasible in DuckDB beyond ~100k docs, so THIS probe
proves the only surface that changes with corpus size — the band
VALUES at the adaptive bits — by equality-joining the Spark-computed
bands (any (doc_id, b0..b3) parquet written from the Spark side)
against the oracle CTE's bands over the same corpus, row by row.

Usage: python3 tools/phash_band_parity.py <spark_bands_parquet_dir> <docs_parquet>
Prints a JSON line: {"n": ..., "bits": ..., "mismatches": 0}
"""
import json
import sys

import duckdb

BAND = (
    "CAST((CAST('0x' || substr(mm, (({b} * bits + 3) // 4) + 1, 16) AS UBIGINT)"
    " >> CAST(4 * (({b} * bits + 3) // 4) - {b} * bits AS UBIGINT))"
    " & ((1::UBIGINT << CAST(bits AS UBIGINT)) - 1) AS BIGINT)"
)

BITS_CASE = """CASE WHEN n <= 131072 THEN 16
     WHEN n <= 524288 THEN 18
     WHEN n <= 2097152 THEN 20
     WHEN n <= 8388608 THEN 22
     WHEN n <= 33554432 THEN 24
     WHEN n <= 134217728 THEN 26
     WHEN n <= 536870912 THEN 28
     WHEN n <= 2147483648 THEN 30
     ELSE 32 END"""


def main() -> None:
    spark_dir, docs = sys.argv[1], sys.argv[2]
    bands = ", ".join(
        BAND.format(b=i + 1) + f" AS b{i}" for i in range(4))
    q = f"""
    WITH ph_g AS (
      SELECT {BITS_CASE} AS bits
      FROM (SELECT count(*) AS n FROM '{docs}')),
    h AS (
      SELECT doc_id, {bands}
      FROM (SELECT doc_id, repeat('0', 16) || md5(text) AS mm
            FROM '{docs}'), ph_g),
    s AS (SELECT * FROM '{spark_dir}/*.parquet')
    SELECT
      (SELECT count(*) FROM '{docs}') AS n,
      (SELECT bits FROM ph_g) AS bits,
      (SELECT count(*) FROM s) AS n_spark,
      (SELECT count(*) FROM h JOIN s USING (doc_id)
        WHERE h.b0 <> s.b0 OR h.b1 <> s.b1
           OR h.b2 <> s.b2 OR h.b3 <> s.b3) AS mismatches,
      (SELECT count(*) FROM h LEFT JOIN s USING (doc_id)
        WHERE s.doc_id IS NULL) AS missing
    """
    n, bits, n_spark, mismatches, missing = duckdb.sql(q).fetchone()
    print(json.dumps({
        "n": n, "bits": bits, "n_spark": n_spark,
        "mismatches": mismatches, "missing": missing,
        "pass": mismatches == 0 and missing == 0 and n == n_spark,
    }))


if __name__ == "__main__":
    main()
