"""The frozen digest oracle of the HTML extraction path
(``data/golden_synth_md.parquet``, inputs in tests/golden_synth_inputs.py),
recomputed in-process without Spark.  A change that moves a digest
regenerates the table with scratch/gen_golden_synth.py and says why."""

import os

import pyarrow.parquet as pq

from tests.golden_synth_inputs import digest_rows, versions

GOLDEN = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data", "golden_synth_md.parquet",
)


def test_extraction_digests_match_golden():
    table = pq.read_table(GOLDEN)
    meta = {k.decode(): v.decode() for k, v in table.schema.metadata.items()}
    # the zipf/pages inputs are rebuilt from the generators: a version
    # bump changes the inputs, not the engine, and needs a regeneration
    assert {k: meta[k] for k in versions()} == versions()
    want = {
        r["doc_id"]: (r["status"], r["md_md5"], r["spans_md5"])
        for r in table.to_pylist()
    }
    got = {doc_id: rest for doc_id, *rest in digest_rows()}
    got = {k: tuple(v) for k, v in got.items()}
    assert sorted(got) == sorted(want)
    moved = sorted(k for k in want if got[k] != want[k])
    assert not moved, f"{len(moved)} digests moved, first: {moved[:10]}"
    groups = {k.split(":")[0] for k in want}
    assert groups == {"zipf", "page", "grid"}
    assert all(v[0] == "ok" for v in want.values())
