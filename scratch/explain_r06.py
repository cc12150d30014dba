"""Capture explain('formatted') for declared queries WITHOUT executing
them (plan-only; safe to run alongside other work)."""
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

def main():
    sf_dir, out_prefix = sys.argv[1], sys.argv[2]
    names = sys.argv[3].split(",") if len(sys.argv) > 3 else None
    import __spark_entry__ as E
    from helix_html2md_spark.session import build_session
    skip = E.STREAMING_QUERIES
    spark = build_session("explain-r06", master="local[32]",
                          shuffle_partitions=32)
    d, suffix = os.path.split(out_prefix)
    os.makedirs(d, exist_ok=True)
    for name, fn in E.queries().items():
        if name in skip or (names and name not in names):
            continue
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(d, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(buf.getvalue())
        print("explained", name, flush=True)
    spark.stop()

if __name__ == "__main__":
    main()
