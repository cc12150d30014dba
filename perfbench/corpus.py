"""Seeded benchmark inputs, built from the engine's own generators and
cached as parquet, keyed by corpus version, generator version, seed and
size.

* ``zipf_html`` — ``sources.synthetic.gen_doc`` documents chosen so that
  their size targets are stratified over the Pareto-1.1 quantiles: one
  document per quantile stratum.  The size curve is then the same for
  every seed (only which documents fill each stratum changes), so the
  heavy tail cannot make one seed's pass several times longer than
  another's.  The top 1 % of strata come from one fixed generator seed:
  those few documents set the pass time, and at equal size their cost
  varies by up to a third with their content.
* ``small_pages`` — ``sources.boilergen.synth_content_page`` pages, two
  in five with ``<main>``, the rest without, plus the markdown the
  generator constructs for each.
* ``pdf_layout`` — ``sources.pdfgen`` ``synth_*`` documents over every
  family and ``build_pdf`` variant, plus the PDFs shipped in
  ``data/pdfs.parquet``, each with the md5 of its expected span list.
"""

from __future__ import annotations

import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# bump whenever the inputs a (workload, seed, size) key produces change
CORPUS_VERSION = 5
SCAN = 24  # zipf_html candidate indices scanned per document
TAIL_SEED = 0  # generator seed of the zipf_html tail strata
TAIL_SHARE = 0.01  # share of zipf_html strata, from the top, that it fills
CACHE_KEEP = 24  # cached corpora kept in the checkout

# the media rewrite runs only with media enabled and a base url
ZIPF_DEFAULTS = {
    "media_enabled": True,
    "source_url": "https://bench.example/docs/page",
}
PAGE_DEFAULTS = {"boilerplate_fallback": True}

SPAN_TYPE = pa.list_(
    pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
)

RS, FS = "\x1e", "\x1f"  # the golden_pdf_spans.parquet digest separators


def _cached(cache_dir: str, key: str, build) -> str:
    """Path of ``key``'s parquet file, building it on first use and
    dropping the least recently built entries beyond CACHE_KEEP."""
    path = os.path.join(cache_dir, key + ".parquet")
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        pq.write_table(build(), tmp)
        os.replace(tmp, path)
        entries = sorted(
            (os.path.join(cache_dir, n) for n in os.listdir(cache_dir)),
            key=os.path.getmtime,
        )
        for old in entries[:-CACHE_KEEP]:
            os.remove(old)
    return path


# ---------------------------------------------------------------- zipf_html


def zipf_ids(seed: int, n: int) -> list[int]:
    """One ``gen_doc`` index per Pareto quantile stratum.

    ``gen_doc(seed, i)`` draws its size target as the first value of
    ``Random(f"{seed}:{i}")`` through ``paretovariate``, i.e. from the
    uniform ``u = random()``; stratum ``floor(u * n)`` is the quantile
    band of that target.  Over the first ``SCAN * n`` indices each band
    keeps the index whose ``u`` is nearest the band's middle (the top
    band is unbounded in size, so its first hit would vary by seed);
    a band still empty takes the next index that lands in it.
    """
    best: list[tuple[float, int] | None] = [None] * n
    left = n
    i = 0
    while left or i < SCAN * n:
        u = random.Random(f"{seed}:{i}").random()
        band = int(u * n)
        dist = abs(u * n - band - 0.5)
        if best[band] is None:
            left -= 1
            best[band] = (dist, i)
        elif i < SCAN * n and dist < best[band][0]:
            best[band] = (dist, i)
        i += 1
    return [i for _, i in best]  # ascending size target


def _zipf_table(seed: int, n: int) -> pa.Table:
    from helix_html2md_spark.sources.synthetic import gen_doc

    tail = max(1, round(n * TAIL_SHARE))
    docs = [gen_doc(seed, i) for i in zipf_ids(seed, n)[: n - tail]]
    docs += [gen_doc(TAIL_SEED, i) for i in zipf_ids(TAIL_SEED, n)[n - tail:]]
    spans = [
        [
            {
                "kind": s["kind"], "text": s["text"],
                "media_ref": s["media_ref"], "offset": s["offset"],
            }
            for s in d["spans"]
        ]
        for d in docs
    ]
    # ids name the size rank, not the gen_doc index: hash placement of
    # documents on partitions then is the same for every seed, so the
    # seed varies content but not which partition holds the heavy tail
    return pa.table(
        {
            "doc_id": [f"zipf:{rank:07d}" for rank in range(len(docs))],
            "spans": pa.array(spans, type=SPAN_TYPE),
        }
    )


def zipf_corpus(cache_dir: str, seed: int, n: int) -> str:
    from helix_html2md_spark.sources.synthetic import GEN_VERSION

    key = f"zipf_html-c{CORPUS_VERSION}-g{GEN_VERSION}-s{seed}-n{n}"
    return _cached(cache_dir, key, lambda: _zipf_table(seed, n))


# -------------------------------------------------------------- small_pages


def _pages_table(seed: int, n: int) -> pa.Table:
    from helix_html2md_spark.sources.boilergen import synth_content_page

    ids, htmls, expected = [], [], []
    for k in range(n):
        page_seed = seed * 1_000_003 + k
        # pages with <main> cost ~0.2 ms and those without ~0.3-0.4 ms:
        # at half and half the median latency would be the extreme of
        # one class; at two in five it falls inside the slower class
        html, md = synth_content_page(page_seed, with_main=k % 5 < 2)
        ids.append(f"page:{k:07d}")
        htmls.append(html)
        expected.append(md)
    spans = [
        [{"kind": "html", "text": h, "media_ref": "", "offset": 0}]
        for h in htmls
    ]
    return pa.table(
        {
            "doc_id": ids,
            "spans": pa.array(spans, type=SPAN_TYPE),
            "expected_md": expected,
        }
    )


def pages_corpus(cache_dir: str, seed: int, n: int) -> str:
    key = f"small_pages-c{CORPUS_VERSION}-s{seed}-n{n}"
    return _cached(cache_dir, key, lambda: _pages_table(seed, n))


# --------------------------------------------------------------- pdf_layout


def spans_md5(pairs) -> str:
    """md5 of (kind, value) pairs in the golden_pdf_spans.parquet form."""
    parts = []
    for kind, val in pairs:
        media = kind in ("image", "link")
        parts.append(
            f"{kind}{FS}{'' if media else val}{FS}{val if media else ''}"
        )
    return hashlib.md5(RS.join(parts).encode("utf-8")).hexdigest()


def pdf_span_pairs(spans) -> list[tuple[str, str]]:
    """parse_pdf output -> the (kind, value) pairs the expectations use."""
    return [
        (
            s["kind"],
            s["media_ref"] if s["kind"] in ("image", "link") else s["text"],
        )
        for s in spans
    ]


def _pdf_families():
    from helix_html2md_spark.sources import pdfgen

    def plain(**kw):
        return lambda s: pdfgen.synth_pdf(s, **kw)

    return [
        ("plain", plain()),
        ("objstm", plain(objstm=True)),
        ("cmap", plain(cmap_fonts=True)),
        ("modern", plain(objstm=True, xref_stream=True)),
        ("nested", plain(nested_pages=True)),
        ("indlen", plain(indirect_length=True)),
        ("desc", plain(descriptor_font=True)),
        ("twocol", pdfgen.synth_two_column_pdf),
        ("links", pdfgen.synth_link_pdf),
        ("rot", pdfgen.synth_rotated_pdf),
        ("cid", pdfgen.synth_cid_pdf),
        ("inline", pdfgen.synth_inline_pdf),
        ("table", pdfgen.synth_table_pdf),
    ]


def _pdf_table(seed: int, n: int, data_dir: str) -> pa.Table:
    ids, payloads, statuses, digests = [], [], [], []
    families = _pdf_families()
    rng = random.Random(seed)
    for k in range(n):
        name, make = families[k % len(families)]
        payload, expected = make(rng.randrange(1 << 30))
        ids.append(f"synth-{name}-{k:06d}")
        payloads.append(payload)
        statuses.append("ok")
        digests.append(spans_md5(expected))
    shipped = pq.read_table(os.path.join(data_dir, "pdfs.parquet")).to_pylist()
    golden = {
        r["doc_id"]: r
        for r in pq.read_table(
            os.path.join(data_dir, "golden_pdf_spans.parquet")
        ).to_pylist()
    }
    for row in shipped:
        g = golden[row["doc_id"]]
        ids.append(row["doc_id"])
        payloads.append(row["payload"])
        statuses.append(g["status"])
        digests.append(g["spans_md5"])
    return pa.table(
        {
            "doc_id": ids,
            "payload": pa.array(payloads, type=pa.binary()),
            "expected_status": statuses,
            "expected_md5": digests,
        }
    )


def pdf_corpus(cache_dir: str, seed: int, n: int, data_dir: str) -> str:
    key = f"pdf_layout-c{CORPUS_VERSION}-s{seed}-n{n}"
    return _cached(cache_dir, key, lambda: _pdf_table(seed, n, data_dir))


# ------------------------------------------------------------------ helpers


def size_summary(sizes: list[int]) -> dict:
    """Document count, MB and size percentiles, for the run's log."""
    s = sorted(sizes)
    n = len(s)
    total = sum(s)
    top = s[n - max(1, n // 20):]

    def pct(p):
        return s[min(n - 1, int(p / 100 * n))]

    return {
        "docs": n,
        "mb": round(total / 1e6, 3),
        "p50_kb": round(pct(50) / 1024, 2),
        "p90_kb": round(pct(90) / 1024, 2),
        "p99_kb": round(pct(99) / 1024, 2),
        "max_kb": round(s[-1] / 1024, 2),
        "top5pct_byte_share": round(sum(top) / total, 3),
    }
