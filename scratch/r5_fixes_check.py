"""Repro-check the round-5 review-finding fixes (packing/boilerplate).
Run: python scratch/r5_fixes_check.py"""
import sys

sys.path.insert(0, "/root/repo")
from helix_html2md_spark.session import build_session  # noqa: E402

spark = build_session("r5fix", master="local[4]", shuffle_partitions=8)

from helix_html2md_spark.operators.packing import pack_sequences  # noqa: E402
from helix_html2md_spark.core.boilerplate import strip_boilerplate  # noqa: E402

fails = []

# 1) pack_sequences: all-null-text docs must not crash, get 0-token slots
docs = spark.createDataFrame(
    [("d0", None), ("d1", None), ("d2", "one two three")],
    "doc_id string, text string",
)
rows = {r["doc_id"]: r for r in pack_sequences(docs, seq_len=4).collect()}
if len(rows) != 3 or rows["d0"]["n_tokens"] != 0 or rows["d2"]["pack_id"] is None:
    fails.append(f"pack null-text: {rows}")
if rows["d2"]["offset_in_pack"] != 0 or rows["d2"]["pack_id"] != 0:
    fails.append(f"pack d2 slot: {rows['d2']}")
from helix_html2md_spark.operators.dedup import release_persisted  # noqa: E402
release_persisted()

# 2) _text: inline tags mid-word concatenate verbatim; blocks stay apart
html = ("<html><body><div id='c'><p>This paragraph is re<b>mark</b>able, "
        "truly and completely remarkable stuff</p>"
        "<p>glued</p><p>blocks, separated by boundaries as they must be, "
        "for correct text statistics</p></div></body></html>")
out = strip_boilerplate(html)
if "re mark able" in out["content_text"] or "remarkable" not in out["content_text"]:
    fails.append(f"_text inline: {out['content_text']!r}")
if "gluedblocks" in out["content_text"]:
    fails.append(f"_text block glue: {out['content_text']!r}")

# 3) _NOISE_HINT: 'downloads' subtree survives; real nav/ads still die
html2 = ("<html><body><div class='downloads'><p>a long real content "
         "paragraph, with a comma, living inside a downloads class</p>"
         "</div></body></html>")
out2 = strip_boilerplate(html2)
if out2["status"] != "ok" or "real content" not in out2["content_text"]:
    fails.append(f"noise downloads: {out2}")
for cls in ("main-nav", "ads", "ad-break", "navbar", "sidebar"):
    h = (f"<html><body><div class='{cls}'><p>noisy chrome paragraph, long "
         f"enough to score, twice over even more</p></div>"
         "<div class='x'><p>the honest article paragraph, long enough to "
         "score points too</p></div></body></html>")
    o = strip_boilerplate(h)
    if "noisy chrome" in o["content_text"]:
        fails.append(f"noise {cls} survived: {o['content_text']!r}")

# 4) octet_length gate: multibyte page beyond byte budget is rejected
from helix_html2md_spark.operators.boilerplate import (  # noqa: E402
    strip_boilerplate_documents,
)
cjk = "<html>" + "文" * 600  # 600 chars, ~1800 bytes
df = spark.createDataFrame([("cjk", cjk)], "doc_id string, html string")
got = strip_boilerplate_documents(df, max_html_size=1024).collect()[0]
if got["status"] != "constraint_error":
    fails.append(f"octet gate: {got}")

print("FAILURES:" if fails else "ALL GREEN")
for f in fails:
    print(" -", f)
spark.stop()
sys.exit(1 if fails else 0)
