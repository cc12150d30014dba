"""Round-6 optimization measurement harness (bench.py stays FROZEN).

Times individual battery queries exactly the way bench.py does
(``fn(spark, sf_dir).collect()``, one cold run per fresh-session visit,
``release_persisted()`` between queries) and optionally:

* ``--noop``      also times a noop-sink run (computes every column,
                  discards the result — guide §1.4) after the collect
                  run, in the same session (plans differ, so the Spark
                  4.1 result cache cannot serve it).
* ``--explain DIR/SUFFIX``  writes ``DIR/<query>_<SUFFIX>.txt`` with the
                  ``explain("formatted")`` output for each query.

Usage:
    python bench_extra.py --sf-dir /root/testdata/sf1.0 \
        --queries simhash,lang_id --explain plans/r06/before --noop

One JSON line per query goes to stdout; everything else to stderr.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    p.add_argument("--queries", default="")
    p.add_argument("--explain", default="")
    p.add_argument("--noop", action="store_true")
    p.add_argument("--cpus", type=int,
                   default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = p.parse_args()

    import __spark_entry__ as E
    from helix_html2md_spark.operators.dedup import release_persisted
    from helix_html2md_spark.session import build_session

    spark = build_session(
        "bench-extra", master=f"local[{args.cpus}]",
        shuffle_partitions=max(args.cpus, 8),
    )

    skip = E.STREAMING_QUERIES | {"extract_spans"}
    all_q = E.queries()
    names = (
        [n.strip() for n in args.queries.split(",") if n.strip()]
        if args.queries
        else [n for n in all_q if n not in skip]
    )

    exp_dir = exp_suffix = None
    if args.explain:
        exp_dir, exp_suffix = os.path.split(args.explain)
        os.makedirs(exp_dir, exist_ok=True)

    results = {}
    for name in names:
        fn = all_q[name]
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        t0 = time.perf_counter()
        df = fn(spark, args.sf_dir)
        df.collect()
        wall = round(time.perf_counter() - t0, 3)
        row = {"query": name, "collect_sec": wall}
        if exp_dir is not None:
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(
                os.path.join(exp_dir, f"{name}_{exp_suffix}.txt"), "w"
            ) as fh:
                fh.write(buf.getvalue())
        if args.noop:
            release_persisted()
            df2 = fn(spark, args.sf_dir)
            t0 = time.perf_counter()
            df2.write.format("noop").mode("overwrite").save()
            row["noop_sec"] = round(time.perf_counter() - t0, 3)
        release_persisted()
        spark.sparkContext.setJobDescription(None)
        results[name] = row
        print(json.dumps(row), flush=True)
    print(json.dumps({
        "total_collect_sec": round(
            sum(r["collect_sec"] for r in results.values()), 3),
        "sf_dir": args.sf_dir, "n": len(results),
    }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
