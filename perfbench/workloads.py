"""The workloads: inputs, warm-up, timed pass, library call, checks.

Each workload prepares its seeded corpus (untimed, cached), runs an
untimed warm-up slice inside set-up, then timed Spark passes that end in
an aggregate whose digest is checked against the generator's
expectations, and exposes a per-document library call for the
single-threaded latency loop.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import pyarrow.parquet as pq

from . import corpus as C

FULL_SAMPLE = 50  # zipf documents checked Spark-versus-library per run
WARM_STRIDE = 63  # the warm-up slice: every 63rd document (odd, so both page kinds)


def _html_of(spans) -> str:
    from helix_html2md_spark.operators.extract import assemble_html

    return assemble_html(spans)


def _media_of(spans) -> list[dict]:
    return [s for s in spans if s["kind"] == "media"]


def _evenly(items: list, k: int) -> list:
    """k items at evenly spaced ranks (all of them when k >= len)."""
    n = len(items)
    if k >= n:
        return list(items)
    return [items[(j * n) // k] for j in range(k)]


def _html_digest_agg(out):
    """count, wrong status, concat(spans.text) != md, xor of row hashes."""
    from pyspark.sql import functions as F

    concat = F.array_join(F.transform("spans", lambda s: s["text"]), "")
    return out.agg(
        F.count("*").alias("n"),
        F.sum((F.col("status") != "ok").cast("int")).alias("not_ok"),
        F.sum((concat != F.col("md")).cast("int")).alias("concat_bad"),
        F.bit_xor(F.xxhash64("doc_id", "md")).alias("digest"),
    )


class Workload:
    name = ""
    defaults: dict = {}
    html = True  # runs operators.extract
    # runs of the latency sample; a document's median counts, so more
    # runs, spread over the whole run, keep more of the host's slow
    # phases out of the tail
    latency_reps = 7
    # documents whose rank in the (size-sorted) sample lies in one of
    # these bands run band_reps times: they decide p50 and p99
    rank_bands: tuple = ()
    band_reps = 0

    def __init__(self, bench, seed: int, cache_dir: str, data_dir: str):
        self.bench = bench
        self.seed = seed
        self.cache_dir = cache_dir
        self.data_dir = data_dir
        self.digest = None  # output digest every pass must reproduce

    # the library call of the latency loop: item -> output is right
    def lib_call(self, item) -> bool:
        from helix_html2md_spark.operators import extract

        html, media, expected = item
        res = extract.extract_row(html, media, self.defaults)
        if res["status"] != "ok":
            return False
        if "".join(s["text"] for s in res["spans"]) != res["md"]:
            return False
        return expected is None or res["md"] == expected

    def reps(self) -> list[int]:
        """Runs of each latency item in the timed latency loop."""
        n = len(self.items)
        return [
            max(
                [self.latency_reps]
                + [self.band_reps for lo, hi in self.rank_bands if lo <= k / n < hi]
            )
            for k in range(n)
        ]

    def _check_digest(self, digest) -> int:
        """Failed documents of a pass whose output digest is ``digest``."""
        if self.digest is None:
            self.digest = digest
        return 0 if digest == self.digest else max(1, self.wrong_docs())

    def wrong_docs(self) -> int:
        """How many documents a pass got wrong, once its digest is off;
        without a per-document oracle, at least one changed."""
        return 1

    def settle(self) -> tuple[int, int]:
        """One untimed full pass after set-up, so the first timed pass
        does not pay for JIT compilation and heap growth; returns
        (attempted, failed) of its checked output."""
        n, _, failed = self.timed_pass("settle")
        return n, failed

    def post_checks(self) -> tuple[int, int]:
        """(attempted, failed) of checks run once after the timed passes."""
        return 0, 0


# ------------------------------------------------------------------- HTML


class ZipfHtml(Workload):
    name = "zipf_html"
    n_docs = 1000
    latency_docs = 1000
    # the sample is sorted by size, so latency rank follows sample rank:
    # the documents around p50 and p99 run in every latency segment, the
    # rest once, which only has to rank them (a run of all 1000 costs
    # ~4.5 s, half of it in the top 5 %)
    latency_reps = 1
    rank_bands = ((0.45, 0.55), (0.97, 0.997))
    band_reps = 8
    defaults = C.ZIPF_DEFAULTS

    def prepare(self):
        self.path = C.zipf_corpus(self.cache_dir, self.seed, self.n_docs)
        rows = pq.read_table(self.path).to_pylist()
        self.rows = {r["doc_id"]: r["spans"] for r in rows}
        by_size = sorted(rows, key=lambda r: len(_html_of(r["spans"])))
        self.sizes = [len(_html_of(r["spans"])) for r in by_size]
        self.warm_ids = [r["doc_id"] for r in by_size[::WARM_STRIDE]]
        self.items = [
            (_html_of(r["spans"]), _media_of(r["spans"]), None)
            for r in _evenly(by_size, self.latency_docs)
        ]

    def docs(self):
        return self.bench.spark.read.parquet(self.path)

    def warmup(self):
        from pyspark.sql import functions as F

        docs = self.docs().filter(F.col("doc_id").isin(self.warm_ids))
        self.bench.action(
            "warmup", lambda: _html_digest_agg(self._extract(docs)).collect()
        )

    def _extract(self, docs):
        from helix_html2md_spark.operators.extract import extract_documents

        return extract_documents(
            docs, None, num_partitions=self.bench.cpus, defaults=self.defaults
        )

    def timed_pass(self, group: str) -> tuple[int, float, int]:
        """(documents, wall seconds, failed documents)."""
        docs = self.bench.salted(self.docs())
        t0 = time.perf_counter()
        r = self.bench.action(
            group, lambda: _html_digest_agg(self._extract(docs)).collect()[0]
        )
        wall = time.perf_counter() - t0
        n = len(self.rows)
        failed = (n - r["n"]) + r["not_ok"] + r["concat_bad"]
        failed += self._check_digest(r["digest"])
        return n, wall, failed

    def post_checks(self) -> tuple[int, int]:
        """Spark-versus-library differential on a seeded sample."""
        from pyspark.sql import functions as F

        from helix_html2md_spark.operators import extract

        ids = random.Random(self.seed).sample(
            sorted(self.rows), min(FULL_SAMPLE, len(self.rows))
        )
        docs = self.bench.salted(self.docs().filter(F.col("doc_id").isin(ids)))
        got = self.bench.action(
            "check", lambda: self._extract(docs).collect()
        )
        failed = len(ids) - len(got)
        for r in got:
            spans = self.rows[r["doc_id"]]
            want = extract.extract_row(
                _html_of(spans), _media_of(spans), self.defaults
            )
            spark_spans = [
                (s["kind"], s["text"], s["media_ref"], s["order"])
                for s in r["spans"]
            ]
            lib_spans = [
                (s["kind"], s["text"], s["media_ref"], s["order"])
                for s in want["spans"]
            ]
            if (r["status"], r["md"], spark_spans) != (
                want["status"], want["md"], lib_spans
            ):
                failed += 1
        return len(ids), failed

    # ---- traced-run decomposition (noop sink): before the crossing,
    # with an identity mapInPandas, and the full operator
    def stages(self):
        from helix_html2md_spark.operators import extract

        n = self.bench.cpus

        def before(docs):
            pre = extract.prepare_for_extract(docs, self.defaults)
            pre = extract.gate_oversized(pre, self.defaults)
            return pre.repartition(n, "doc_id").drop("_html_len")

        def identity(docs):
            pre = before(docs)
            return pre.mapInPandas(_identity_batches, schema=pre.schema)

        return [
            ("assemble", before),
            ("crossing", identity),
            ("transform", self._extract),
        ]

    def stage_input(self):
        return self.docs()


def _identity_batches(batches):
    yield from batches


class SmallPages(ZipfHtml):
    name = "small_pages"
    n_docs = 8000
    latency_docs = 2000
    latency_reps = 7
    rank_bands = ()
    defaults = C.PAGE_DEFAULTS

    def prepare(self):
        self.path = C.pages_corpus(self.cache_dir, self.seed, self.n_docs)
        t = pq.read_table(self.path)
        ids = t.column("doc_id").to_pylist()
        htmls = [sp[0]["text"] for sp in t.column("spans").to_pylist()]
        expected = t.column("expected_md").to_pylist()
        self.rows = dict.fromkeys(ids)
        self.expected = dict(zip(ids, expected))
        self.sizes = [len(h) for h in htmls]
        self.warm_ids = ids[::WARM_STRIDE]
        # consecutive pages: the <main> pattern and the paragraph count
        # cycle with the page index
        self.items = [
            (h, [], e) for h, e in zip(htmls, expected)
        ][: self.latency_docs]

    def docs(self):
        return self.bench.spark.read.parquet(self.path).select("doc_id", "spans")

    def expected_digest(self):
        from pyspark.sql import functions as F

        return self.bench.action(
            "expected",
            lambda: self.bench.spark.read.parquet(self.path)
            .agg(F.bit_xor(F.xxhash64("doc_id", "expected_md")))
            .collect()[0][0],
        )

    def warmup(self):
        super().warmup()
        if self.digest is None:
            self.digest = self.expected_digest()

    def wrong_docs(self) -> int:
        docs = self.bench.salted(self.docs())
        got = self.bench.action(
            "diagnose", lambda: self._extract(docs).select("doc_id", "md").collect()
        )
        wrong = sum(r["md"] != self.expected.get(r["doc_id"]) for r in got)
        return wrong + abs(len(self.expected) - len(got))

    def post_checks(self) -> tuple[int, int]:
        return 0, 0


# ---------------------------------------------------------------- resume


class ResumeJob(ZipfHtml):
    """run_extract_job over the zipf_html corpus, half already done.

    Every pass gets a fresh input path (hard links to the corpus file)
    and an output restored from the pre-seeded snapshot, both untimed.
    """

    name = "resume_job"

    def prepare(self):
        super().prepare()
        ids = sorted(self.rows)
        self.done_ids = set(random.Random(self.seed).sample(ids, len(ids) // 2))
        t = pq.read_table(self.path)
        mask = [i in self.done_ids for i in t.column("doc_id").to_pylist()]
        root = os.path.join(self.bench.work, "resume")
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        self.root = root
        self.half_path = os.path.join(root, "half.parquet")
        pq.write_table(t.filter(mask), self.half_path)
        self.snapshot = os.path.join(root, "snapshot")
        self.n_todo = len(ids) - len(self.done_ids)
        self._pass = 0

    def _job(self, inp, out, run_id):
        from helix_html2md_spark.plans import job

        return job.run_extract_job(
            self.bench.spark, inp, out, run_id=run_id,
            num_partitions=self.bench.cpus, defaults=self.defaults,
        )

    def settle(self) -> tuple[int, int]:
        """Pre-seed the output: one job run over half of the corpus,
        which also settles the job's plans before timing."""
        if not os.path.exists(self.snapshot):
            self.bench.action(
                "seed", lambda: self._job(self.half_path, self.snapshot, "seed")
            )
        return 0, 0

    def _fresh_paths(self):
        self._pass += 1
        inp = os.path.join(self.root, f"in-{self._pass}")
        os.makedirs(inp)
        os.link(self.path, os.path.join(inp, "part-0.parquet"))
        out = os.path.join(self.root, f"out-{self._pass}")
        for suffix in ("", "_lineage", "_metrics"):
            if os.path.exists(self.snapshot + suffix):
                shutil.copytree(self.snapshot + suffix, out + suffix)
        return inp, out

    def _drop(self, inp, out):
        shutil.rmtree(inp, ignore_errors=True)
        for suffix in ("", "_lineage", "_metrics"):
            shutil.rmtree(out + suffix, ignore_errors=True)

    def timed_pass(self, group: str) -> tuple[int, float, int]:
        inp, out = self._fresh_paths()
        t0 = time.perf_counter()
        metrics = self.bench.action(group, lambda: self._job(inp, out, group))
        wall = time.perf_counter() - t0
        failed = self._check_output(out, metrics)
        self.last_io = _job_io(inp, out, self.snapshot)
        self._drop(inp, out)
        return self.n_todo, wall, failed

    def _check_output(self, out, metrics) -> int:
        from pyspark.sql import functions as F

        n = len(self.rows)
        written = self.bench.spark.read.parquet(out)
        r = self.bench.action(
            "verify",
            lambda: _html_digest_agg(written)
            .crossJoin(written.agg(F.countDistinct("doc_id").alias("distinct")))
            .collect()[0],
        )
        failed = abs(n - r["n"]) + abs(n - r["distinct"])
        failed += r["not_ok"] + r["concat_bad"]
        failed += abs(self.n_todo - metrics["docs"]) + metrics["parse_failures"]
        return failed + self._check_digest(r["digest"])

    def stage_input(self):
        from helix_html2md_spark.plans import job

        return job.remaining_documents(self.docs(), self.snapshot)


def _job_io(inp: str, out: str, snapshot: str) -> dict:
    """Bytes read, and files and bytes the job added to its outputs."""

    def files(top):
        found = {}
        for d, _, names in os.walk(top):
            for name in names:
                if name.endswith(".parquet"):
                    p = os.path.join(d, name)
                    found[os.path.relpath(p, top)] = os.path.getsize(p)
        return found

    added_files = 0
    added_bytes = 0
    for suffix in ("", "_lineage", "_metrics"):
        before = files(snapshot + suffix) if os.path.exists(snapshot + suffix) else {}
        after = files(out + suffix)
        new = set(after) - set(before)
        added_files += len(new)
        added_bytes += sum(after[p] for p in new)
    in_bytes = sum(files(inp).values())
    return {"files": added_files, "bytes_out": added_bytes, "bytes_in": in_bytes}


# ------------------------------------------------------------------- PDF


class PdfLayout(Workload):
    name = "pdf_layout"
    n_docs = 6000
    latency_docs = 2000
    html = False

    def prepare(self):
        self.path = C.pdf_corpus(
            self.cache_dir, self.seed, self.n_docs, self.data_dir
        )
        t = pq.read_table(self.path)
        ids = t.column("doc_id").to_pylist()
        payloads = t.column("payload").to_pylist()
        status = t.column("expected_status").to_pylist()
        md5s = t.column("expected_md5").to_pylist()
        self.rows = dict.fromkeys(ids)
        self.expected = {i: (s, m) for i, s, m in zip(ids, status, md5s)}
        self.sizes = [len(p) for p in payloads]
        self.warm_ids = ids[::WARM_STRIDE]
        self.items = _evenly(
            [(p, m) for p, s, m in zip(payloads, status, md5s) if s == "ok"],
            self.latency_docs,
        )

    def lib_call(self, item) -> bool:
        from helix_html2md_spark.core import pdfparse

        payload, md5 = item
        return C.spans_md5(C.pdf_span_pairs(pdfparse.parse_pdf(payload))) == md5

    def docs(self):
        return self.bench.spark.read.parquet(self.path).select("doc_id", "payload")

    def _parse(self, docs):
        from helix_html2md_spark.operators.pdf import parse_pdf_documents

        return parse_pdf_documents(docs, num_partitions=self.bench.cpus)

    @staticmethod
    def _spans_md5():
        """corpus.spans_md5 of a row's spans, computed in the JVM."""
        from pyspark.sql import functions as F

        def part(s):
            media = s["kind"].isin("image", "link")
            return F.concat(
                s["kind"], F.lit(C.FS),
                F.when(media, F.lit("")).otherwise(F.coalesce(s["text"], F.lit(""))),
                F.lit(C.FS),
                F.when(media, F.coalesce(s["media_ref"], F.lit(""))).otherwise(F.lit("")),
            )

        return F.md5(F.array_join(F.transform("spans", part), C.RS))

    def _agg(self, out):
        from pyspark.sql import functions as F

        return out.agg(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64("doc_id", "status", self._spans_md5())).alias("digest"),
        )

    def wrong_docs(self) -> int:
        docs = self.bench.salted(self.docs())
        got = self.bench.action(
            "diagnose",
            lambda: self._parse(docs)
            .select("doc_id", "status", self._spans_md5().alias("md5"))
            .collect(),
        )
        wrong = sum(
            (r["status"], r["md5"]) != self.expected.get(r["doc_id"]) for r in got
        )
        return wrong + abs(len(self.expected) - len(got))

    def warmup(self):
        from pyspark.sql import functions as F

        docs = self.docs().filter(F.col("doc_id").isin(self.warm_ids))
        self.bench.action("warmup", lambda: self._agg(self._parse(docs)).collect())
        if self.digest is None:
            self.digest = self.bench.action(
                "expected",
                lambda: self.bench.spark.read.parquet(self.path)
                .agg(
                    F.bit_xor(
                        F.xxhash64("doc_id", "expected_status", "expected_md5")
                    )
                )
                .collect()[0][0],
            )

    def timed_pass(self, group: str) -> tuple[int, float, int]:
        docs = self.bench.salted(self.docs())
        t0 = time.perf_counter()
        r = self.bench.action(
            group, lambda: self._agg(self._parse(docs)).collect()[0]
        )
        wall = time.perf_counter() - t0
        n = len(self.rows)
        return n, wall, abs(n - r["n"]) + self._check_digest(r["digest"])


WORKLOADS = {
    w.name: w for w in (ZipfHtml, SmallPages, ResumeJob, PdfLayout)
}
