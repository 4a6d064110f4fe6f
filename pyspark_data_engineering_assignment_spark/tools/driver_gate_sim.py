"""Pre-commit simulation of the DRIVER's correctness gate, using the
driver's OWN canonicalization discipline - not the repo harness's.

Round 7 lesson: the repo harness (tests/oracle_harness.py) deliberately
string-serializes array cells before sorting, so it passed
``embedding_kmeans_cells`` while the driver's raw ``pandas.sort_values``
threw ``TypeError: unhashable type: 'list'`` on the ``array<bigint>``
centroid column and recorded the query as err. A simulation that wants
to predict the driver must therefore canonicalize the way the driver
does: lowercase the column names, sort columns by name, then a RAW
``sort_values`` over every column (list/dict cells raise, exactly like
the gate), then hash the cell values.

Runs every oracle-bearing query (the first-50 window the driver
samples) at the driver's gate scale (sf0.01 by default) and prints one
JSON line per query plus a summary. Usage::

    python -m pyspark_data_engineering_assignment_spark.tools.driver_gate_sim \
        [--sf-dir /root/testdata/sf0.01] [--queries a,b,c]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import time

import pandas as pd

from pyspark_data_engineering_assignment_spark.plans import QUERIES
from pyspark_data_engineering_assignment_spark.session import get_spark
from pyspark_data_engineering_assignment_spark.tools.determinism_check import connect


def _canonical_hash(pdf: pd.DataFrame) -> str:
    """Driver-style canonicalization: lowercase + name-sort columns,
    raw sort_values over ALL columns (array/map cells raise here, as
    they do in the gate), then md5 over the stringified cells."""
    pdf = pdf.copy()
    pdf.columns = [c.lower() for c in pdf.columns]
    pdf = pdf[sorted(pdf.columns)]
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort")
    h = hashlib.md5()
    for row in pdf.itertuples(index=False, name=None):
        h.update("|".join(str(x) for x in row).encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--queries", default=None)
    ap.add_argument(
        "--include-local",
        action="store_true",
        help="also simulate every local_oracle query - pre-validates "
        "a local oracle against the driver's canonicalization before "
        "its query is moved into the window",
    )
    args = ap.parse_args()

    spark = get_spark(app_name="driver_gate_sim")
    con = connect(args.sf_dir)
    names = (
        args.queries.split(",")
        if args.queries
        else [
            n
            for n, s in QUERIES.items()
            if s.oracle is not None
            or (args.include_local and s.local_oracle is not None)
        ]
    )
    fails = []
    for name in names:
        spec = QUERIES[name]
        t0 = time.perf_counter()
        rec = {"q": name}
        if spec.oracle is None and spec.local_oracle is None:
            # rows-only query: the driver only counts its rows — mirror
            # that instead of feeding None to duckdb and recording a
            # spurious gate-red.
            try:
                rec["rows_only"] = spec.fn(spark, args.sf_dir).count()
            except Exception as e:
                rec["err"] = f"{type(e).__name__}: {e}"[:160]
                fails.append(name)
            rec["s"] = round(time.perf_counter() - t0, 1)
            print(json.dumps(rec), flush=True)
            continue
        try:
            spdf = spec.fn(spark, args.sf_dir).toPandas()
            dpdf = con.execute(spec.oracle or spec.local_oracle).df()
            rec["rows"] = [len(spdf), len(dpdf)]
            rec["rows_match"] = len(spdf) == len(dpdf)
            rec["schema_match"] = sorted(c.lower() for c in spdf.columns) == sorted(
                c.lower() for c in dpdf.columns
            )
            rec["hash_match"] = _canonical_hash(spdf) == _canonical_hash(dpdf)
            ok = rec["rows_match"] and rec["schema_match"] and rec["hash_match"]
        except Exception as e:  # the gate records these rows as err
            rec["err"] = f"{type(e).__name__}: {e}"[:160]
            ok = False
        rec["s"] = round(time.perf_counter() - t0, 1)
        print(json.dumps(rec), flush=True)
        if not ok:
            fails.append(name)
    print(
        json.dumps(
            {"sf_dir": args.sf_dir, "checked": len(names), "fails": fails}
        )
    )
    raise SystemExit(1 if fails else 0)


if __name__ == "__main__":
    main()
