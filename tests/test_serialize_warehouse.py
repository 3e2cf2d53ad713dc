"""Serializer (SN3 formats) + warehouse materialization tests."""

import pytest

from fixtures import ROOT, pkg_simple

from npm_extraction_server_spark.kernel.pipeline import export_bundle
from npm_extraction_server_spark.kernel.serialize import (
    serialize,
    to_nquads,
    to_ntriples,
    to_trig,
    to_turtle,
)


@pytest.fixture(scope="module")
def triples():
    r = export_bundle(pkg_simple(), ROOT)
    assert r.error is None
    return r.triples


def test_nt_roundtrippable(triples):
    nt = to_ntriples(triples)
    lines = [ln for ln in nt.splitlines() if ln]
    assert len(lines) == len(triples)
    for ln in lines:
        assert ln.startswith("<") and ln.endswith(" .")
    # multiline readme literal escaped onto one line
    assert any("\\n" in ln for ln in lines)
    assert not any("\n" in ln for ln in lines)


def test_nquads(triples):
    nq = to_nquads(triples)
    assert len(nq.splitlines()) == len(triples)


def test_turtle_prefixes_and_grouping(triples):
    ttl = to_turtle(triples)
    assert "@prefix doap: <http://usefulinc.com/ns/doap#> ." in ttl
    assert "doap:name" in ttl  # compacted predicate
    # subject grouping: fewer '.' statement terminators than triples
    n_statements = sum(1 for ln in ttl.splitlines() if ln.rstrip().endswith(" ."))
    assert 0 < n_statements < len(triples)


def test_trig(triples):
    trig = to_trig(triples)
    assert trig  # no named graphs in our output -> turtle-equivalent body
    assert "doap:name" in trig


def test_trig_named_graph_prefixes_declared():
    """Every prefixed name used INSIDE a named-graph block must be
    declared by the single document-level @prefix header (per-block
    compaction with stripped headers — the round-1 bug — emitted
    undeclared names that TriG parsers reject)."""
    import re

    from npm_extraction_server_spark.kernel.jsonld_rdf import Triple

    ts = [
        Triple("http://example.org/bundles/npm/a", "http://usefulinc.com/ns/doap#name",
               '"a"', True, None),
        Triple("http://example.org/bundles/npm/a",
               "http://usefulinc.com/ns/doap#maintainer",
               "http://example.org/users/npm/u", False,
               "http://example.org/graphs/tags"),
        Triple("http://example.org/bundles/npm/a",
               "http://purl.org/dc/terms/modified",
               '"2020-01-01"^^http://www.w3.org/2001/XMLSchema#date', True,
               "http://example.org/graphs/tags"),
    ]
    trig = to_trig(ts)
    assert "{" in trig  # a named-graph block exists
    # no @prefix declarations inside blocks
    inside = trig[trig.index("{"):]
    assert "@prefix" not in inside
    # every used prefix is declared in the document header
    used = set(re.findall(r"(?m)(?:^|[ ,;(])([A-Za-z][\w-]*):(?!/)", trig))
    declared = set(re.findall(r"@prefix (\S+):", trig))
    assert used, trig
    assert used <= declared, (used - declared, trig)
    # doap/xsd used inside the named block are covered
    assert "doap:maintainer" in inside and "xsd:date" in inside


def test_serialize_dispatch(triples):
    for fmt in ("nt", "nq", "ttl", "n3", "trig"):
        assert serialize(triples, fmt)
    with pytest.raises(ValueError, match="Invalid format"):
        serialize(triples, "bogus")


def test_materialize_graph(spark, tmp_path):
    from npm_extraction_server_spark.plans.warehouse import (
        export_ntriples,
        materialize_graph,
        nt_lines,
        user_package_index,
    )
    from npm_extraction_server_spark.sources.pages import pages_df

    pages = pages_df(spark, 40, partitions=4)
    out = str(tmp_path / "graph")
    summary = materialize_graph(pages, out, do_linking=True)
    assert summary["n_triples"] > 500
    assert summary["n_entities"] > 10

    back = spark.read.parquet(f"{out}/triples")
    assert "bucket" in back.columns
    ents = spark.read.parquet(f"{out}/entities")
    assert {"entity_iri", "kind", "canonical_id"} <= set(ents.columns)
    lin = spark.read.parquet(f"{out}/lineage")
    assert lin.count() > 0

    # nt export: every line a valid statement; count preserved
    nt_dir = str(tmp_path / "nt")
    export_ntriples(back, nt_dir)
    lines = spark.read.text(nt_dir)
    assert lines.count() == back.count()
    bad = lines.filter(~lines.value.rlike(r"^<[^>]+> <[^>]+> .* \.$")).count()
    assert bad == 0

    # Spark-side nt lines match the kernel serializer for a sample
    # bundle — compared on the PRE-canonicalization triples (linking
    # rewrites person IRIs to canonical ids by design)
    from pyspark.sql import functions as F

    from npm_extraction_server_spark.plans.kg import run_pipeline

    raw_triples = run_pipeline(pages, include_engines=False)["triples"].cache()
    sample_bundle = raw_triples.select("bundle").first()["bundle"]
    spark_lines = {
        r["line"]
        for r in nt_lines(raw_triples.filter(F.col("bundle") == sample_bundle)).collect()
    }
    import json as jsonlib

    from npm_extraction_server_spark.extract.html import extract_blobs
    from npm_extraction_server_spark.kernel.pipeline import export_bundle as eb
    from npm_extraction_server_spark.sources.synth import synth_page

    # find the page that produced this bundle and re-derive via kernel
    kernel_lines = None
    for i in range(40):
        p = synth_page(i)
        for kind, dj in extract_blobs(p["url"], p["html"]):
            if kind != "npm_manifest":
                continue
            doc = jsonlib.loads(dj)
            if doc.get("name") == sample_bundle:
                r = eb(doc, "http://example.org/")
                kernel_lines = set(to_ntriples(r.triples).splitlines())
    assert kernel_lines is not None
    assert spark_lines == kernel_lines

    # user inverted index
    idx = user_package_index(back)
    assert idx.count() > 0
    row = idx.first()
    # comma-joined sorted-set string (hashable by the driver's
    # correctness canonicalizer), IRIs in ascending order
    iris = row["maintains"].split(",")
    assert iris == sorted(iris) and len(iris) == len(set(iris))
    assert all(i.startswith("http://") for i in iris)


def test_max_satisfying_edges_in_graph(spark, tmp_path):
    from pyspark.sql import functions as F

    from npm_extraction_server_spark.plans.warehouse import materialize_graph
    from npm_extraction_server_spark.sources.pages import pages_df

    pages = pages_df(spark, 30, partitions=4)
    out = str(tmp_path / "g2")
    materialize_graph(pages, out, do_linking=False, resolve_ranges=True)
    back = spark.read.parquet(f"{out}/triples")
    ms = back.filter(F.col("pred").endswith("maxSatisfying"))
    n = ms.count()
    assert n > 0  # hot packages resolve within the corpus
    row = ms.first()
    assert "/bundles/npm/" in row["subj"] and "/bundles/npm/" in row["obj"]


def test_materialize_graph_package_named_engines(spark, tmp_path):
    """A crawled package named ``engines`` is an ordinary bundle: its
    triples are written once, next to the engine dimension's."""
    import json as jsonlib

    from pyspark.sql import functions as F

    from npm_extraction_server_spark.plans.kg import engine_triples
    from npm_extraction_server_spark.plans.warehouse import materialize_graph

    pkg = pkg_simple()
    pkg["_id"] = pkg["name"] = "engines"
    for v in pkg["versions"].values():
        v["name"] = "engines"
    expected = export_bundle(pkg, ROOT)
    assert expected.error is None and expected.bundle == "engines"
    html = ('<html><body><script type="application/json" '
            'data-kind="npm-manifest">' + jsonlib.dumps(pkg)
            + "</script></body></html>").encode()
    url = "http://x.org/engines"
    pages = spark.createDataFrame(
        [(url, None, html, "t", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    out = str(tmp_path / "g3")
    materialize_graph(pages, out, root=ROOT, do_linking=False,
                      resolve_ranges=False)
    back = spark.read.parquet(f"{out}/triples")
    assert back.filter(F.col("src_url") == url).count() == len(expected.triples)
    assert back.filter(F.col("src_url") == "engine:").count() == \
        engine_triples(spark, ROOT).count()


def test_parse_roundtrip_every_format():
    """kernel/parse: parse(serialize(x, fmt), fmt) == x as a multiset
    for every serializer, including named graphs (nq/trig), language
    tags, typed literals, and every escape the writer emits."""
    from npm_extraction_server_spark.kernel.jsonld_rdf import Triple
    from npm_extraction_server_spark.kernel.parse import parse_rdf
    from npm_extraction_server_spark.kernel.serialize import serialize

    ts = [
        Triple("http://e/s", "http://usefulinc.com/ns/doap#name",
               '"va\nl "q" \\ \t"', True, None),
        Triple("http://e/s", "http://e/p", '"v"@en-GB', True, None),
        Triple("http://e/s2", "http://e/p",
               '"3"^^http://www.w3.org/2001/XMLSchema#integer', True,
               "http://e/G1"),
        Triple("http://e/s2", "http://e/p2", "http://e/o", False,
               "http://e/G1"),
        Triple("http://e/s3", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
               "http://usefulinc.com/ns/doap#Project", False, "http://e/G2"),
    ]
    for fmt in ("nt", "nq", "ttl", "n3", "trig"):
        use = ([t._replace(graph=None) for t in ts]
               if fmt in ("nt", "ttl", "n3") else ts)
        back = parse_rdf(serialize(use, fmt), fmt)
        assert sorted(back) == sorted(use), fmt


def test_parse_foreign_turtle_subset():
    """Standards-subset features our writers never emit: 'a' keyword,
    comments, blank-node labels, SPARQL-style PREFIX, ',' lists —
    parsed; unsupported constructs raise instead of mis-parsing."""
    import pytest

    from npm_extraction_server_spark.kernel.parse import (
        parse_ntriples,
        parse_turtle,
    )

    got = parse_turtle(
        "# header comment\n"
        "PREFIX ex: <http://ex.org/>\n"
        "@prefix x: <http://x.org/> .\n"
        "ex:t a x:Type ; ex:knows _:b1 , ex:o . # trailing\n"
        '_:b1 ex:name "Bob"@en .\n')
    assert ("http://ex.org/t",
            "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
            "http://x.org/Type", False, None) in [tuple(t) for t in got]
    assert ("_:b1", "http://ex.org/name", '"Bob"@en', True, None) \
        in [tuple(t) for t in got]
    assert len(got) == 4

    with pytest.raises(ValueError, match="undeclared prefix"):
        parse_turtle("nope:s nope:p nope:o .")
    with pytest.raises(ValueError, match="literal in subject"):
        parse_ntriples('"lit" <http://e/p> <http://e/o> .')
    with pytest.raises(ValueError, match="named-graph block"):
        parse_ntriples("<http://e/g> { <http://e/s> <http://e/p> <http://e/o> . }")
    with pytest.raises(ValueError, match="parse error|unexpected"):
        parse_turtle("<http://e/s> <http://e/p> ( <http://e/o> ) .")
