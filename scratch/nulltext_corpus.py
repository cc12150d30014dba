"""Build a null-text-hardened twin of a testdata dir for oracle sims.

Copies the documents table with appended hostile rows — NULL, empty
and whitespace-only text, the classes that historically diverged
between Spark's F.when/coalesce contracts and bare SQL CASE arms.
Every query in __spark_entry__.queries() reads only documents.parquet
or the in-repo parquets under data/, so no other table is copied.  Run
the full sim:

    python scratch/nulltext_corpus.py /root/testdata/sf0.001
    python scratch/check_oracles.py /tmp/sf_nulltext
"""
import os
import shutil
import sys

import duckdb

src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf_nulltext"

shutil.rmtree(dst, ignore_errors=True)
os.makedirs(dst)
duckdb.connect().sql(
    f"""
    COPY (
      SELECT * FROM '{src}/documents.parquet'
      UNION ALL SELECT 99990, NULL, 'en', 'src0', 0
      UNION ALL SELECT 99991, '', 'en', 'src0', 0
      UNION ALL SELECT 99992, e'\\t\\n', 'en', 'src0', 2
    ) TO '{dst}/documents.parquet' (FORMAT parquet)
    """
)
print("built", dst)
