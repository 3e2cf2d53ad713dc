"""The KG-construction batch pipeline (north star, SURVEY.md §3.1).

    pages ──[repartition(xxhash64(url)) when under-parallel]──▶
          extract + kernel (ONE mapInPandas stage, Arrow; kernel/pipeline.py)
          ──▶ raw triple rows ──▶ [triples table | errors | lineage table]
                                  (+ engine dimension union)

The docs table (``extract_docs``) is a separate, lazy extract stage read
by serving, semver resolution and the text invariant; it is never the
kernel's input — every pages -> triples path (``run_pipeline``,
``plans/resume.py``, ``streaming/incremental.py``) goes through
``pages_to_triples``.

Scale notes (the 100 TB design):
- at most one explicit shuffle (the url-hash repartition); the python
  stage is narrow — a page is self-contained, so pages->triples never
  shuffles.
- all Python work is Arrow-batched ``mapInPandas`` (no per-row UDFs);
  everything after the triple stage is built-in column ops.
- per-partition lineage rows (A6/SN2) aggregate the same raw rows that
  form the triples table, but the raw frame is not cached, so a lineage
  write re-runs the Python stage (perfbench reports it as
  ``kg.lineage_s``).
- failed bundles emit an error row instead of triples (T2 per-bundle
  atomicity; mirrors the -e/-E sidecar files,
  /root/reference/bin/exportTriples.js:168-180).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_ROOT = "http://example.org/"

DOCS_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("lang", T.StringType(), True),
    T.StructField("doc_kind", T.StringType(), False),
    T.StructField("doc_json", T.StringType(), False),
    T.StructField("doc_sha", T.StringType(), False),
    T.StructField("text", T.StringType(), True),  # byte-identical pass-through
])

TRIPLES_SCHEMA = T.StructType([
    T.StructField("src_url", T.StringType(), True),
    T.StructField("bundle", T.StringType(), True),
    T.StructField("subj", T.StringType(), True),
    T.StructField("pred", T.StringType(), True),
    T.StructField("obj", T.StringType(), True),
    T.StructField("obj_is_literal", T.BooleanType(), True),
    T.StructField("graph", T.StringType(), True),
    T.StructField("part_id", T.IntegerType(), True),
    T.StructField("error", T.StringType(), True),
])


def repartition_pages(pages: DataFrame) -> DataFrame:
    """Explicit url-hash repartition (north_rule): spreads crawl-order
    locality so no executor sees a hot host's pages clustered."""
    n = pages.sparkSession.sparkContext.defaultParallelism
    return pages.repartition(n, F.xxhash64("url"))


def maybe_repartition_pages(pages: DataFrame) -> DataFrame:
    """Shuffle only when the scan is under-parallel. A shuffle feeding a
    python stage forces row-wise shuffle-read -> Arrow conversion, which
    measured ~2x slower than the columnar parquet->Arrow path — so when
    the file layout already yields >= cores partitions (uniform crawl
    shards), skip it; the explicit url-hash shuffle stays for skewed
    layouts (hot hosts clustered into few files) and for the bucketed
    writers."""
    spark = pages.sparkSession
    target = spark.sparkContext.defaultParallelism
    current = pages.rdd.getNumPartitions()
    if current >= target:
        return pages
    return pages.repartition(target, F.xxhash64("url"))


def _extract_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from ..extract.html import doc_sha, extract_blobs

    cols = [f.name for f in DOCS_SCHEMA.fields]
    for pdf in batches:
        rows = []
        for url, warc_ts, html, text, lang in zip(
            pdf["url"], pdf["warc_ts"], pdf["html"], pdf["text"], pdf["lang"]
        ):
            blob = bytes(html) if html is not None else b""
            for kind, doc_json in extract_blobs(url, blob):
                rows.append((url, warc_ts, lang, kind, doc_json, doc_sha(doc_json), text))
        yield pd.DataFrame(rows, columns=cols)


def extract_docs(pages: DataFrame) -> DataFrame:
    return pages.mapInPandas(_extract_partition, schema=DOCS_SCHEMA)


def _fused_partition(root: str):
    """pages -> triples in ONE python stage (extract + kernel fused).

    Chained mapInPandas stages each pin their own python worker per
    task — two chained UDFs means 2N concurrent python processes for N
    task slots, which oversubscribes the host and inverts scaling
    (measured: local[32] slower than local[8] on 32 cores). Fusing
    keeps exactly one python worker per task slot and removes an Arrow
    round-trip of the intermediate docs table."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        from ..extract.html import extract_parsed
        from ..kernel.jsonld_rdf import to_triples
        from ..kernel.pipeline import export_bundle

        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx else -1
        for pdf in batches:
            # columnar accumulation: ~3x cheaper than list-of-tuples ->
            # pd.DataFrame for wide string output at millions of rows
            c_url, c_bundle = [], []
            c_subj, c_pred, c_obj, c_lit, c_graph, c_err = [], [], [], [], [], []

            def emit_error(url, bundle, msg):
                c_url.append(url); c_bundle.append(bundle)
                c_subj.append(None); c_pred.append(None); c_obj.append(None)
                c_lit.append(None); c_graph.append(None); c_err.append(msg)

            def emit_triples(url, bundle, triples):
                n = len(triples)
                c_url.extend([url] * n); c_bundle.extend([bundle] * n)
                c_subj.extend(t.subj for t in triples)
                c_pred.extend(t.pred for t in triples)
                c_obj.extend(t.obj for t in triples)
                c_lit.extend(t.obj_is_literal for t in triples)
                c_graph.extend(t.graph for t in triples)
                c_err.extend([None] * n)

            for url, html in zip(pdf["url"], pdf["html"]):
                blob = bytes(html) if html is not None else b""
                for kind, doc in extract_parsed(url, blob):
                    if kind == "npm_manifest":
                        result = export_bundle(doc, root)
                        if result.error is not None:
                            emit_error(url, result.bundle, result.error)
                        else:
                            emit_triples(url, result.bundle, result.triples)
                    else:
                        try:
                            emit_triples(url, None, to_triples(doc, root=url))
                        except Exception as e:
                            emit_error(url, None, f"{type(e).__name__}: {e}")
            yield pd.DataFrame({
                "src_url": pd.Series(c_url, dtype=object),
                "bundle": pd.Series(c_bundle, dtype=object),
                "subj": pd.Series(c_subj, dtype=object),
                "pred": pd.Series(c_pred, dtype=object),
                "obj": pd.Series(c_obj, dtype=object),
                "obj_is_literal": pd.Series(c_lit, dtype=object),
                "graph": pd.Series(c_graph, dtype=object),
                "part_id": pd.Series([part_id] * len(c_url), dtype="int32"),
                "error": pd.Series(c_err, dtype=object),
            })

    return fn


def pages_to_triples(pages: DataFrame, root: str = DEFAULT_ROOT) -> DataFrame:
    """Fused pages -> raw triple rows (one python stage, no intermediate
    docs materialization). The hot path for throughput."""
    return pages.select("url", "html").mapInPandas(
        _fused_partition(root), schema=TRIPLES_SCHEMA)


def engine_triples(spark: SparkSession, root: str = DEFAULT_ROOT,
                   index_by_name: dict | None = None) -> DataFrame:
    """The engine dimension (SC8): tiny, generated driver-side once —
    the analog of the reference's single nodejs.org fetch."""
    from ..kernel.pipeline import export_engines
    from ..sources.engine_index import ENGINE_INDEX

    if index_by_name is None:
        index_by_name = ENGINE_INDEX
    rows = [
        ("engine:", "engines", t.subj, t.pred, t.obj, t.obj_is_literal, t.graph, -1, None)
        for t in export_engines(index_by_name, root)
    ]
    return spark.createDataFrame(rows, schema=TRIPLES_SCHEMA)


def split_errors(triples_raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    triples = triples_raw.filter(F.col("subj").isNotNull()).drop("error")
    errors = triples_raw.filter(F.col("error").isNotNull()).select(
        "src_url", "bundle", "part_id", "error"
    )
    return triples, errors


def lineage(triples_raw: DataFrame, stage: str = "doc_to_triples") -> DataFrame:
    """A6/SN4: per-partition metrics derived from the triple rows."""
    return (
        triples_raw.groupBy("part_id")
        .agg(
            F.lit(stage).alias("stage"),
            F.countDistinct("src_url").alias("n_in"),
            F.count("subj").alias("n_out"),
            F.count("error").alias("n_failed"),
            # min, not first: deterministic sample (first() is
            # partition-arrival-order dependent)
            F.min("error").alias("error_sample"),
        )
    )


def verify_text_invariant(pages: DataFrame, docs: DataFrame) -> int:
    """Per-row invariant (BASELINE.json): extracted text byte-identical
    per url. Returns the number of violating urls (must be 0)."""
    lhs = pages.select("url", F.sha2(F.coalesce(F.col("text"), F.lit("")), 256).alias("in_sha"))
    rhs = docs.select("url", F.sha2(F.coalesce(F.col("text"), F.lit("")), 256).alias("out_sha")).distinct()
    joined = lhs.join(rhs, "url", "inner")
    return joined.filter(F.col("in_sha") != F.col("out_sha")).count()


def write_triples(triples: DataFrame, path: str, n_buckets: int = 64,
                  mode: str = "overwrite") -> None:
    """Partitioned sink (Iceberg-table stand-in: parquet with explicit
    subj-hash bucketing — Iceberg's bucket(N, subj) transform; jars for
    the real catalog are not in this image)."""
    (
        triples.withColumn("bucket", F.pmod(F.xxhash64("subj"), F.lit(n_buckets)).cast("int"))
        .write.mode(mode)
        .partitionBy("bucket")
        .parquet(path)
    )


def run_pipeline(pages: DataFrame, root: str = DEFAULT_ROOT,
                 include_engines: bool = True) -> dict:
    """Full pages->triples pass; returns the interesting DataFrames.

    Extract and kernel run in one python stage (``pages_to_triples``).
    The returned ``docs`` DataFrame is the separate extract stage
    (lazy; only computed if the caller uses it, e.g. for the
    text-pass-through check)."""
    spark = pages.sparkSession
    pages_p = maybe_repartition_pages(pages)
    raw = pages_to_triples(pages_p, root)
    triples, errors = split_errors(raw)
    if include_engines:
        triples = triples.unionByName(engine_triples(spark, root).drop("error"))
    return {
        "pages": pages_p,
        "docs": extract_docs(pages_p),
        "raw": raw,
        "triples": triples,
        "errors": errors,
        "lineage": lineage(raw),
    }


def select_bundles(triples: DataFrame, names: list[str]) -> DataFrame:
    """SC6: the ``-i`` stdin name-list mode (the reference's
    bin/exportTriples.js:73-85) — keep only the rows of the given bundle
    names via a broadcast left-semi join on ``bundle`` (strictly better
    than the reference's sequential list: distributed, order-free).
    Works on raw rows too, so a named bundle that failed keeps its error
    row."""
    wanted = triples.sparkSession.createDataFrame(
        [(n,) for n in names], "name string")
    return triples.join(F.broadcast(wanted),
                        triples["bundle"] == wanted["name"], "left_semi")


PROV = "http://www.w3.org/ns/prov#"
_RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
_XSD_DT = "http://www.w3.org/2001/XMLSchema#dateTime"


def prov_triples(triples: DataFrame, pages: DataFrame | None = None) -> DataFrame:
    """W3C PROV-O provenance for the KG itself (SN2's lineage idea at
    the RDF level): one provenance star per source document, so a
    consumer can ask the graph where a triple's document came from.

    Per distinct src_url: the crawled page is a prov:Entity, the
    extracted per-document named graph (<url>#graph — the as_quads
    graph IRI is the url itself; the fragment keeps the two apart) is
    a prov:Entity prov:wasDerivedFrom the page and
    prov:wasGeneratedBy the <url>#extract prov:Activity which
    prov:used the page. With ``pages`` given, the graph entity also
    carries prov:generatedAtTime (the page's warc_ts as an
    xsd:dateTime literal in the kernel's typed-literal encoding).

    One distinct + one generate-6-rows projection (plus a url-keyed
    join when pages is given): at 10^12 documents this is exactly one
    shuffle on src_url, and the output is ∝ documents, not triples.
    """
    docs = triples.select("src_url").distinct()
    if pages is not None:
        ts_lit = F.concat(
            F.lit('"'),
            F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"),
            F.lit('"^^' + _XSD_DT))
        docs = docs.join(
            pages.select(F.col("url").alias("src_url"),
                         ts_lit.alias("ts_lit")).distinct(),
            "src_url", "left")
    url = F.col("src_url")
    graph_e = F.concat(url, F.lit("#graph"))
    act = F.concat(url, F.lit("#extract"))
    rows = [
        (url, F.lit(_RDF_TYPE), F.lit(PROV + "Entity")),
        (graph_e, F.lit(_RDF_TYPE), F.lit(PROV + "Entity")),
        (graph_e, F.lit(PROV + "wasDerivedFrom"), url),
        (graph_e, F.lit(PROV + "wasGeneratedBy"), act),
        (act, F.lit(_RDF_TYPE), F.lit(PROV + "Activity")),
        (act, F.lit(PROV + "used"), url),
    ]
    if pages is not None:
        rows.append((graph_e, F.lit(PROV + "generatedAtTime"),
                     F.col("ts_lit")))
    star = F.array(*[
        F.struct(s.alias("subj"), p.alias("pred"), o.alias("obj"))
        for s, p, o in rows])
    out = docs.select(F.explode(star).alias("t")).select(
        "t.subj", "t.pred", "t.obj")
    return out.filter(F.col("obj").isNotNull())
