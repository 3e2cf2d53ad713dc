"""Seeded benchmark inputs: the pages corpus, the tables derived from it,
and the answers every correctness gate compares against.

Everything is a pure function of the seed. The corpus always holds the
synthetic package ids 0-999 (dependencies target ``pkg-{hv % 1000}`` and
the head packages are ids 0-2, so dropping any of them would silently
remove in-corpus dependency targets and the head-entity skew) plus
``EXTRA_PAGES`` ids drawn by the seed, plus one page per fixture package
of ``tests/fixtures.py``, plus the ``chain_packages`` pages. A
seed-chosen share of synthetic pages gets its manifest blob wrapped in a
JSON array (``export_bundle`` turns it into an error row) and another
share gets a truncated blob (``extract_parsed`` skips it).

Artifacts are cached per seed (and per version of the sources they derive
from) under the work directory; the first run pays for them, later runs
only load them.
"""

from __future__ import annotations

import json
import random
import string
from dataclasses import dataclass
from pathlib import Path

ROOT = "http://example.org/"
BASE_PAGES = 1000
EXTRA_PAGES = 600
FIXTURE_HOST = "http://fixtures.example.org/"
CHAIN_HOST = "http://chains.example.org/"
# name chains for the linker: 3 chains of 10 packages whose components
# take connected_components 5 rounds (4 that change labels, 1 that finds
# none); the other components of the corpus settle in the first round
N_CHAINS, CHAIN_LEN, CHAIN_NAME_LEN = 3, 10, 45

_MANIFEST_OPEN = '<script type="application/json" data-kind="npm-manifest">'
_MANIFEST_CLOSE = "</script>"


@dataclass
class Corpus:
    seed: int
    pages: list[dict]          # url, warc_ts, html, text, lang
    fixture_urls: dict         # url -> bundle name
    n_array_errors: int        # pages whose manifest is a JSON array
    n_truncated: int           # pages whose manifest blob is cut short


def _manifest_page(pkg: dict, host: str) -> dict:
    blob = json.dumps(pkg, separators=(",", ":"))
    html = (f"<!DOCTYPE html><html><head><title>{pkg['name']}</title></head>"
            f"<body>{_MANIFEST_OPEN}{blob}{_MANIFEST_CLOSE}</body></html>")
    return {"url": host + pkg["name"].replace("/", "%2F"),
            "warc_ts": 1500000000, "html": html.encode("utf-8"),
            "text": f"package {pkg['name']}", "lang": "en"}


def chain_names() -> list[list[str]]:
    """``N_CHAINS`` chains of package names, the same for every seed.

    Each name differs from the one before it in one letter and from the
    one two before it in two letters, always at positions three apart.
    With ~43 distinct name 3-grams, one letter changes 3 of them
    (Jaccard ~0.87, above ``link_entities``' 0.8 threshold) and two
    letters change 6 (~0.76, below it), so the candidate edges of a chain
    are exactly its neighbour pairs: a path, which min-label propagation
    needs several rounds to cross."""
    rng = random.Random("perfbench-chains")
    positions = range(0, CHAIN_NAME_LEN, 3)
    chains = []
    for _ in range(N_CHAINS):
        name = [rng.choice(string.ascii_lowercase) for _ in range(CHAIN_NAME_LEN)]
        chain = ["".join(name)]
        for k in range(1, CHAIN_LEN):
            p = positions[k % len(positions)]
            name[p] = rng.choice([c for c in string.ascii_lowercase if c != name[p]])
            chain.append("".join(name))
        chains.append(chain)
    return chains


def chain_packages() -> list[dict]:
    def pkg(name):
        return {"_id": name, "name": name, "dist-tags": {"latest": "1.0.0"},
                "versions": {"1.0.0": {"name": name, "version": "1.0.0",
                                       "license": "MIT"}},
                "time": {"1.0.0": "2015-01-01T00:00:00.000Z"}}
    return [pkg(name) for chain in chain_names() for name in chain]


def _damage(page: dict, how: str) -> dict:
    html = page["html"].decode("utf-8")
    start = html.index(_MANIFEST_OPEN) + len(_MANIFEST_OPEN)
    end = html.index(_MANIFEST_CLOSE, start)
    blob = html[start:end]
    blob = "[" + blob + "]" if how == "array" else blob[: len(blob) // 2]
    return {**page, "html": (html[:start] + blob + html[end:]).encode("utf-8")}


def build_corpus(seed: int, repo: Path) -> Corpus:
    """The seed's pages, in a seed-shuffled order."""
    import sys

    if str(repo / "tests") not in sys.path:
        sys.path.insert(0, str(repo / "tests"))
    from fixtures import all_packages

    from npm_extraction_server_spark.sources.synth import HOT_PACKAGES, synth_page

    rng = random.Random(seed)
    extra = rng.sample(range(BASE_PAGES, 1_000_000), EXTRA_PAGES)
    ids = list(range(BASE_PAGES)) + extra
    # head packages stay intact: they carry the skew the pipeline must survive
    damageable = [i for i in ids if i >= len(HOT_PACKAGES)]
    n_array = int(len(ids) * rng.uniform(0.01, 0.03))
    n_trunc = int(len(ids) * rng.uniform(0.01, 0.03))
    picked = rng.sample(damageable, n_array + n_trunc)
    damage = {i: "array" for i in picked[:n_array]}
    damage.update({i: "truncate" for i in picked[n_array:]})

    pages = []
    for i in ids:
        page = synth_page(i)
        if i in damage:
            page = _damage(page, damage[i])
        pages.append(page)
    fixture_urls = {}
    for pkg in all_packages():
        page = _manifest_page(pkg, FIXTURE_HOST)
        pages.append(page)
        fixture_urls[page["url"]] = pkg["name"]
    pages.extend(_manifest_page(pkg, CHAIN_HOST) for pkg in chain_packages())
    rng.shuffle(pages)
    return Corpus(seed=seed, pages=pages, fixture_urls=fixture_urls,
                  n_array_errors=n_array, n_truncated=n_trunc)


def write_pages_parquet(corpus: Corpus, path: Path, n_files: int) -> None:
    """The pages table as ``n_files`` parquet files (one scan partition
    each), written with pyarrow so no Spark job is spent on input."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path.mkdir(parents=True, exist_ok=True)
    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    n = len(corpus.pages)
    for f in range(n_files):
        chunk = corpus.pages[f * n // n_files:(f + 1) * n // n_files]
        table = pa.table({
            "url": [p["url"] for p in chunk],
            "warc_ts": [p["warc_ts"] * 1_000_000 for p in chunk],
            "html": [p["html"] for p in chunk],
            "text": [p["text"] for p in chunk],
            "lang": [p["lang"] for p in chunk],
        }, schema=schema)
        pq.write_table(table, path / f"part-{f:05d}.parquet")


def golden_lines(repo: Path) -> dict[str, set[str]]:
    """Bundle name (or ``engines``) -> the golden N-Triples line set."""
    out = {}
    for nt in sorted((repo / "tests" / "goldens").glob("*.nt")):
        name = nt.stem.replace("_at_", "@", 1)
        if name.startswith("@"):
            name = name.replace("_", "/", 1)
        out[name] = set(nt.read_text().splitlines())
    return out


def kernel_pages(pages: list[dict]):
    """The plain-Python kernel over ``pages``, as the extract path's fused
    Python stage runs it. Yields (url, bundle, triples, manifest doc or
    None) per extracted blob; a manifest ``export_bundle`` rejects yields
    no triples (``split_errors`` drops its error row)."""
    from npm_extraction_server_spark.extract.html import extract_parsed
    from npm_extraction_server_spark.kernel.jsonld_rdf import to_triples
    from npm_extraction_server_spark.kernel.pipeline import export_bundle

    for page in pages:
        url = page["url"]
        for kind, doc in extract_parsed(url, page["html"]):
            if kind == "npm_manifest":
                result = export_bundle(doc, ROOT)
                yield url, result.bundle, result.triples if result.error is None else [], doc
            else:
                yield url, None, to_triples(doc, root=url), None


def write_triples_parquet(corpus: Corpus, path: Path, n_files: int) -> None:
    """The rows the extract path writes (``kg.run_pipeline``'s triples,
    engine dimension included), built by the plain-Python kernel and
    written with pyarrow: one file per page file, ``part_id`` being its
    index, and the engine rows (``part_id`` -1) in a file of their own.
    The sink's ``bucket`` partition column is not written; linking reads
    none of it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from npm_extraction_server_spark.kernel.pipeline import export_engines
    from npm_extraction_server_spark.sources.engine_index import ENGINE_INDEX

    schema = pa.schema([("src_url", pa.string()), ("bundle", pa.string()),
                        ("subj", pa.string()), ("pred", pa.string()),
                        ("obj", pa.string()), ("obj_is_literal", pa.bool_()),
                        ("graph", pa.string()), ("part_id", pa.int32())])

    def write(name, part_id, blobs):
        cols = {f: [] for f in schema.names}
        for url, bundle, triples in blobs:
            for t in triples:
                for f, v in zip(schema.names, (url, bundle, t.subj, t.pred, t.obj,
                                               bool(t.obj_is_literal), t.graph, part_id)):
                    cols[f].append(v)
        pq.write_table(pa.table(cols, schema=schema), path / name)

    path.mkdir(parents=True, exist_ok=True)
    n = len(corpus.pages)
    for f in range(n_files):
        chunk = corpus.pages[f * n // n_files:(f + 1) * n // n_files]
        write(f"part-{f:05d}.parquet", f,
              [(url, bundle, triples) for url, bundle, triples, _ in kernel_pages(chunk)])
    write("part-engines.parquet", -1,
          [("engine:", "engines", export_engines(ENGINE_INDEX, ROOT))])


def kernel_index(corpus: Corpus) -> tuple[dict, dict, dict]:
    """The plain-Python kernel over the whole corpus (engine dimension
    included): subject -> triples, non-literal object -> triples, and
    package name -> its manifest docs (in page order)."""
    from npm_extraction_server_spark.kernel.pipeline import export_engines
    from npm_extraction_server_spark.sources.engine_index import ENGINE_INDEX

    by_subj: dict[str, set] = {}
    by_obj: dict[str, set] = {}
    docs: dict[str, list] = {}

    def add(triples):
        for t in triples:
            row = (t.subj, t.pred, t.obj, bool(t.obj_is_literal), t.graph)
            by_subj.setdefault(t.subj, set()).add(row)
            if not t.obj_is_literal:
                by_obj.setdefault(t.obj, set()).add(row)

    for _, _, triples, doc in kernel_pages(corpus.pages):
        if isinstance(doc, dict) and isinstance(doc.get("name"), str):
            docs.setdefault(doc["name"], []).append(doc)
        add(triples)
    add(export_engines(ENGINE_INDEX, ROOT))
    return by_subj, by_obj, docs
