"""The traced run's layer sweep: every layer measured once, on the seed's
inputs, through public calls wrapped in spans.

Timings come from the spans; executor-side numbers (run time, jobs,
records read) come from the event log, matched to spans by job group.
The sweep starts with one traced pass of the run's workload, made
exactly as the untraced passes before it (``run.py`` makes a cold and a
warm one in the same session); that pass against the untraced warm pass
is the tracing overhead, and its event-log roll-up gives the ``spark.*``
metrics. The layer phases after it are timed one by one and are not the
workload's plan.
"""

from __future__ import annotations

import statistics
import time

from spans import engine_metrics, merge, read_event_log
from workloads import CLASS_OF, N_BUCKETS, ROOT, Server, noop

SAMPLE_PAGES = 200


class Sweep:
    # inputs read besides the workload's own: the kg phases read the
    # pages, serving reads the requests; linking, serving and the
    # operators read the triples the kg phases write
    needs = ("corpus_info", "pages", "requests")

    def __init__(self, spark, art, tracer, work, wl):
        self.spark, self.art, self.tracer, self.work = spark, art, tracer, work
        self.wl = wl  # the run's workload, already warm
        self.values: dict[str, float] = {}
        self.recs: dict[str, dict] = {}
        self.attempted = self.failed = 0

    def timed(self, name: str, fn):
        with self.tracer.span(name) as rec:
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
        self.recs[name] = rec
        return dt, out

    def run(self) -> None:
        from npm_extraction_server_spark.sources.pages import read_pages

        self.workload_pass()
        # fork the Python workers (a link run has none yet) before the
        # kg phases are timed
        self.spark.range(0, 4, 1, 4).mapInPandas(lambda it: it, "id long").collect()
        self.pages = read_pages(self.spark, str(self.art.pages()))
        self.n_pages = self.art.corpus_info()["n_pages"]
        self.sources()
        self.extract_and_kernel()
        self.kg()
        self.linking()
        self.serving()
        self.operators()

    def workload_pass(self) -> None:
        """A traced and checked pass of the run's workload."""
        wl = self.wl
        with self.tracer.span(f"{wl.name}.pass") as rec:
            out = wl.run_pass("traced")
        self.recs["workload.pass"] = rec
        self.attempted += wl.ops_per_pass
        self.failed += min(wl.ops_per_pass, len(wl.check(out)))

    def sources(self) -> None:
        self.values["sources.scan_s"] = self.timed(
            "sources.scan", lambda: noop(self.pages))[0]

    def extract_and_kernel(self) -> None:
        """Single-process cost of the Python stage's work on a fixed page
        sample: extraction, then the kernel per extracted doc."""
        from npm_extraction_server_spark.extract.html import extract_parsed
        from npm_extraction_server_spark.kernel.jsonld_rdf import to_triples
        from npm_extraction_server_spark.kernel.pipeline import export_bundle

        sample = self.art.corpus.pages[:SAMPLE_PAGES]
        t0 = time.perf_counter()
        parsed = [(p["url"], extract_parsed(p["url"], p["html"])) for p in sample]
        t_extract = time.perf_counter() - t0
        bundles = [doc for _, docs in parsed for k, doc in docs if k == "npm_manifest"]
        others = [(url, doc) for url, docs in parsed for k, doc in docs
                  if k != "npm_manifest"]
        t0 = time.perf_counter()
        n_triples = sum(len(export_bundle(doc, ROOT).triples) for doc in bundles)
        t_bundle = time.perf_counter() - t0
        t0 = time.perf_counter()
        n_triples += sum(len(to_triples(doc, root=url)) for url, doc in others)
        t_other = time.perf_counter() - t0
        self.values.update({
            "extract.us_per_page": t_extract / len(sample) * 1e6,
            "extract.blobs_per_page": (len(bundles) + len(others)) / len(sample),
            "kernel.export_bundle_us_per_doc": t_bundle / max(1, len(bundles)) * 1e6,
            "kernel.to_triples_us_per_doc": t_other / max(1, len(others)) * 1e6,
            "kernel.triples_per_page": n_triples / len(sample),
        })
        self.sample_s_per_page = (t_extract + t_bundle + t_other) / len(sample)

    def kg(self) -> None:
        """The extract pass split into its phases: the Python stage alone
        (to a noop sink), the triples write (that stage plus the bucketed
        sink) and the lineage write (which runs the stage again)."""
        from pyspark.sql import functions as F

        from npm_extraction_server_spark.plans import kg

        result = kg.run_pipeline(self.pages)
        out = self.work / "sweep-extract"
        py_s = self.timed("kg.python_stage", lambda: noop(result["raw"]))[0]
        write_s = self.timed("kg.triples_write", lambda: kg.write_triples(
            result["triples"], str(out / "triples"), n_buckets=N_BUCKETS))[0]
        lineage_s = self.timed("kg.lineage_write", lambda: result["lineage"].write.mode(
            "overwrite").parquet(str(out / "lineage")))[0]
        self.triples_path = out / "triples"
        self.triples = self.spark.read.parquet(str(self.triples_path))
        n_triples = self.triples.count()
        files = list(self.triples_path.rglob("*.parquet"))
        self.values.update({
            "kg.python_stage_s": py_s,
            "kg.sink_s": write_s - py_s,
            "kg.python_stage_share": py_s / write_s,
            "kg.lineage_s": lineage_s,
            "kg.error_rows": float(self.spark.read.parquet(str(out / "lineage"))
                                   .agg(F.sum("n_failed")).first()[0]),
            "kg.files_written": float(len(files)),
            "kg.bytes_per_triple": sum(f.stat().st_size for f in files) / n_triples,
        })

    def linking(self) -> None:
        """The link pass phase by phase, each phase materialized so it can
        be timed."""
        from pyspark.sql import functions as F

        from npm_extraction_server_spark.plans import linking

        t = self.triples
        with self.tracer.span("linking.phases"):
            d, mentions = self.timed("linking.mentions", lambda: linking.entity_mentions(
                t).localCheckpoint(eager=True))
            self.values["linking.mentions_s"] = d
            d, edges = self.timed("linking.candidates", lambda: linking.candidate_edges(
                mentions, t).localCheckpoint(eager=True))
            self.values["linking.candidates_s"] = d
            d, labels = self.timed("linking.components", lambda: linking.connected_components(
                mentions.select("entity_iri"), edges).localCheckpoint(eager=True))
            self.values["linking.components_s"] = d
            entities = mentions.join(labels, "entity_iri", "left").withColumn(
                "canonical_id", F.coalesce("canonical_id", "entity_iri"))
            d, canon = self.timed("linking.canonicalize", lambda: linking.canonicalize_triples(
                t, entities).localCheckpoint(eager=True))
            self.values["linking.canonicalize_s"] = d
            self.values["linking.write_s"] = self.timed(
                "linking.write", lambda: canon.write.mode("overwrite").parquet(
                    str(self.work / "sweep-canonical")))[0]
        self.values.update({
            "linking.entities_n": float(mentions.count()),
            "linking.edges_n": float(edges.count()),
            "linking.components_n": float(
                labels.select("canonical_id").distinct().count()),
        })

    def serving(self) -> None:
        """The seed's request mix, one request at a time, each checked
        against the plain-Python kernel's answer. The docs table the
        module routes read is written first, untimed."""
        from npm_extraction_server_spark.plans import kg

        docs = self.work / "sweep-docs"
        kg.extract_docs(self.pages).write.mode("overwrite").parquet(str(docs))
        server = Server(self.spark, self.triples_path, docs)
        requests = self.art.requests()
        self.requests: list[tuple[dict, int]] = []
        by_class: dict[str, list[float]] = {c: [] for c in set(CLASS_OF.values())}
        serialize_ms = []
        with self.tracer.span("serve.pass") as cycle:
            for req in requests:
                self.attempted += 1
                with self.tracer.span("serving.request", kind=req["kind"]) as rec:
                    t0 = time.perf_counter()
                    status, rows, ser = server.request(req)
                    ms = (time.perf_counter() - t0) * 1e3
                if status != req["status"] or rows != {tuple(r) for r in req["rows"]}:
                    self.failed += 1
                self.requests.append((rec, len(rows)))
                by_class[CLASS_OF[req["kind"]]].append(ms)
                if rows:
                    serialize_ms.append(ser)
        self.recs["serve.pass"] = cycle
        for cls, ms in by_class.items():
            self.values[f"serving.{cls}_p50_ms"] = statistics.median(ms)
        self.values["serving.requests"] = float(len(requests))
        self.values["serving.serialize_ms"] = statistics.median(serialize_ms)

    def operators(self) -> None:
        from pyspark.sql import functions as F

        from npm_extraction_server_spark.operators.dedup import minhash_lsh_pairs
        from npm_extraction_server_spark.plans.graph import pagerank

        docs = self.pages.select(F.xxhash64("url").alias("doc_id"), "text")
        bundles = ROOT + "bundles/npm/"
        edges = (self.triples
                 .filter(F.col("subj").startswith(bundles) & F.col("obj").startswith(bundles))
                 .select(F.col("subj").alias("src"), F.col("obj").alias("dst")))
        for name, fn in {
            "operators.dedup_minhash": lambda: minhash_lsh_pairs(
                docs, num_hashes=64, bands=32, threshold=0.2).count(),
            "graph.pagerank": lambda: pagerank(edges, iterations=2).count(),
        }.items():
            self.values[f"{name}.cold_s"] = self.timed(f"{name}.cold", fn)[0]
            self.values[f"{name}.warm_s"] = self.timed(f"{name}.warm", fn)[0]

    def metrics(self, event_log, *, session_start_s: float, untraced_batch_s: float,
                peak_rss_mb: float) -> dict[str, float]:
        """Every per-layer metric by name."""
        roll = read_event_log(event_log)

        def of(recs) -> dict:
            groups = set()
            for rec in recs:
                groups |= self.tracer.subtree_groups(rec)
            return merge([roll[g] for g in groups if g in roll])

        py = of([self.recs["kg.python_stage"]])
        self.values["kg.boundary_share"] = (
            1 - self.sample_s_per_page * self.n_pages / (py["run_ms"] / 1e3))
        self.values["linking.cc_jobs"] = float(of([self.recs["linking.components"]])["jobs"])
        req = of([rec for rec, _ in self.requests])
        self.values["serving.jobs_per_request"] = req["jobs"] / len(self.requests)
        returned = sum(n for _, n in self.requests)
        self.values["serving.scan_amplification"] = req["records_read"] / max(1, returned)
        own = self.recs["workload.pass"]
        self.values.update(engine_metrics(of([own])))
        traced_s = own["end"] - own["start"]
        self.values.update({
            "session.start_s": session_start_s,
            "process.peak_rss_mb": peak_rss_mb,
            "trace.untraced_batch_s": untraced_batch_s,
            "trace.traced_batch_s": traced_s,
            "trace.overhead_share": traced_s / untraced_batch_s - 1,
        })
        return dict(sorted(self.values.items()))
