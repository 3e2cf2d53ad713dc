"""The two workloads, ``extract`` and ``link``, and the server the traced
sweep sends its ``plans.serving.route`` requests through.

Each workload loads its inputs (``load``), runs one measured pass
(``run_pass``) and checks that pass's output (``check``, which returns a
list of failure messages). A pass is the unit the benchmark times:

- ``extract``: pages parquet -> ``kg.run_pipeline`` -> ``write_triples``
  (64 buckets, engine dimension included) + lineage.
- ``link``: triples table -> ``link_entities`` -> entities written ->
  ``canonicalize_triples`` -> written.

The package is called only through its public functions.
"""

from __future__ import annotations

import json
import random
import shutil
import time
from pathlib import Path

from inputs import (ROOT, build_corpus, golden_lines, kernel_index, write_pages_parquet,
                    write_triples_parquet)
from reference import min_label_components

N_BUCKETS = 64


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Artifacts:
    """Per-seed inputs, built on first use and cached on disk.

    Every input is made in plain Python (the package's own ``synth`` and
    kernel, written with pyarrow), before the measured process starts its
    JVM, so no input is ever built by the Spark session being measured.
    The cache directory is keyed by seed, by the number of page files
    (one per core) and by a hash of every source the inputs derive from
    (the package, ``tests/fixtures.py`` and this directory), so a checkout
    that moves between commits never measures or checks stale inputs."""

    def __init__(self, repo: Path, work: Path, seed: int, n_files: int):
        from host import source_sha256

        self.repo, self.seed, self.n_files = repo, seed, n_files
        key = source_sha256(repo, ("tests/fixtures.py", "perfbench"))[:12]
        self.dir = work / "cache" / f"seed-{seed}-{n_files}f-{key}"
        self.dir.mkdir(parents=True, exist_ok=True)
        self._corpus = None

    def _build(self, name: str, fn) -> Path:
        path = self.dir / name
        if not path.exists():
            tmp = self.dir / f".{name}.tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            fn(tmp)
            tmp.rename(path)
        return path

    @property
    def corpus(self):
        if self._corpus is None:
            self._corpus = build_corpus(self.seed, self.repo)
        return self._corpus

    def corpus_info(self) -> dict:
        def make(tmp):
            c = self.corpus
            tmp.mkdir()
            (tmp / "info.json").write_text(json.dumps({
                "n_pages": len(c.pages), "fixture_urls": c.fixture_urls,
                "n_array_errors": c.n_array_errors, "n_truncated": c.n_truncated}))
        return json.loads((self._build("corpus_info", make) / "info.json").read_text())

    def pages(self) -> Path:
        return self._build("pages", lambda tmp: write_pages_parquet(
            self.corpus, tmp, self.n_files))

    def triples(self) -> Path:
        """The rows the extract path writes, from the plain-Python kernel."""
        return self._build("triples", lambda tmp: write_triples_parquet(
            self.corpus, tmp, self.n_files))

    def requests(self) -> list[dict]:
        def make(tmp):
            tmp.mkdir()
            (tmp / "requests.json").write_text(json.dumps(
                request_mix(self.corpus, self.seed)))
        return json.loads((self._build("requests", make) / "requests.json").read_text())


def run_extract(pages, out: Path) -> None:
    """One extract pass, composed as ``kg.run_pipeline`` composes it:
    triples (engine dimension included, 64 buckets) and lineage under
    ``out``."""
    from npm_extraction_server_spark.plans import kg

    result = kg.run_pipeline(pages)
    kg.write_triples(result["triples"], str(out / "triples"), n_buckets=N_BUCKETS)
    result["lineage"].write.mode("overwrite").parquet(str(out / "lineage"))


def run_link(triples, out: Path) -> None:
    """One link pass: entities, then canonical triples, under ``out``."""
    from npm_extraction_server_spark.plans import linking

    spark = triples.sparkSession
    linking.link_entities(triples).write.mode("overwrite").parquet(str(out / "entities"))
    entities = spark.read.parquet(str(out / "entities"))
    linking.canonicalize_triples(triples, entities).write.mode("overwrite").parquet(
        str(out / "canonical"))


def _table(path: Path, columns: list[str], filter=None):
    """A written parquet table read back with pyarrow (Spark's hive
    partition directories included), so checks launch no Spark job."""
    import pyarrow.dataset as ds

    return ds.dataset(str(path), format="parquet", partitioning="hive").to_table(
        columns=columns, filter=filter)


def _rows(rows) -> set:
    return {(r["subj"], r["pred"], r["obj"], bool(r["obj_is_literal"]), r["graph"])
            for r in rows}


class Extract:
    name = "extract"
    needs = ("corpus_info", "pages")
    ops_per_pass = 1

    def __init__(self, spark, art: Artifacts, work: Path):
        self.spark, self.art, self.work = spark, art, work

    def load(self):
        from npm_extraction_server_spark.sources.pages import read_pages

        info = self.art.corpus_info()
        self.items = info["n_pages"]
        self.fixture_urls = info["fixture_urls"]
        self.n_errors = info["n_array_errors"]
        self.goldens = golden_lines(self.art.repo)
        self.pages = read_pages(self.spark, str(self.art.pages()))

    def run_pass(self, i: int | str) -> Path:
        out = self.work / f"extract-{i}"
        run_extract(self.pages, out)
        return out

    def check(self, out: Path) -> list[str]:
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        from npm_extraction_server_spark.kernel.jsonld_rdf import Triple
        from npm_extraction_server_spark.kernel.serialize import to_ntriples

        fails = []
        n_failed = pc.sum(_table(out / "lineage", ["n_failed"])["n_failed"]).as_py()
        if n_failed != self.n_errors:
            fails.append(f"error rows {n_failed} != injected {self.n_errors}")
        urls = {**self.fixture_urls, "engine:": "engines"}
        got: dict[str, list] = {u: [] for u in urls}
        for r in _table(out / "triples", ["src_url", "subj", "pred", "obj", "obj_is_literal",
                                          "graph"], ds.field("src_url").isin(list(urls))
                        ).to_pylist():
            got[r["src_url"]].append(Triple(r["subj"], r["pred"], r["obj"],
                                            r["obj_is_literal"], r["graph"]))
        for url, name in urls.items():
            lines = set(to_ntriples(got[url]).splitlines())
            if lines != self.goldens[name]:
                fails.append(f"{name}: {len(lines ^ self.goldens[name])} lines differ "
                             "from the golden")
        return fails


class Link:
    name = "link"
    needs = ("corpus_info", "triples")
    ops_per_pass = 1

    def __init__(self, spark, art: Artifacts, work: Path):
        self.spark, self.art, self.work = spark, art, work
        self.ref = None

    def load(self):
        self.items = self.art.corpus_info()["n_pages"]
        self.triples = self.spark.read.parquet(str(self.art.triples()))

    def reference(self) -> dict:
        """Reference CC labels (union-find over the program's candidate
        edges) and the triples table's row count. Built on the first
        check, which runs after every timed pass."""
        from npm_extraction_server_spark.plans import linking

        t = self.triples
        mentions = linking.entity_mentions(t).localCheckpoint(eager=True)
        edges = linking.candidate_edges(mentions, t).collect()
        vertices = [r.entity_iri for r in mentions.select("entity_iri").collect()]
        return {"n_triples": _table(self.art.triples(), []).num_rows,
                "labels": min_label_components(vertices, [(e.src, e.dst) for e in edges])}

    def run_pass(self, i: int | str) -> Path:
        out = self.work / f"link-{i}"
        run_link(self.triples, out)
        return out

    def check(self, out: Path) -> list[str]:
        if self.ref is None:
            self.ref = self.reference()
        labels, n_triples = self.ref["labels"], self.ref["n_triples"]
        fails = []
        entities = _table(out / "entities", ["entity_iri", "canonical_id"])
        got = dict(zip(entities["entity_iri"].to_pylist(),
                       entities["canonical_id"].to_pylist()))
        if got != labels:
            bad = sum(1 for k in got.keys() | labels.keys() if got.get(k) != labels.get(k))
            fails.append(f"{bad} entity labels differ from the union-find reference")
        n = _table(out / "canonical", []).num_rows
        if n != n_triples:
            fails.append(f"canonical triples {n} != input triples {n_triples}")
        return fails


# request kinds and how many of each the traced sweep sends (20 requests,
# every class of CLASS_OF at least twice, for a p50 per class)
MIX = {"bundle": 6, "module": 4, "range": 2, "tag": 2, "user": 2,
       "engine": 2, "miss": 1, "refused": 1}
CLASS_OF = {"bundle": "bundle", "module": "module", "range": "redirect",
            "tag": "redirect", "user": "user", "engine": "engine",
            "miss": "miss", "refused": "miss"}


def _pkg_path(name: str) -> str:
    return "/bundles/npm/" + name


def request_mix(corpus, seed: int) -> list[dict]:
    """The seed's fixed request list, each with its expected answer from
    the plain-Python kernel: status and the exact triple set."""
    from npm_extraction_server_spark.kernel.pipeline import resolve_module_version
    from npm_extraction_server_spark.kernel.uris import (
        bundle_uri, engine_bundle_uri, engine_module_uri, module_uri, user_uri)
    from npm_extraction_server_spark.kernel.vocab import PREFIXES
    from npm_extraction_server_spark.sources.engine_index import ENGINE_INDEX

    by_subj, by_obj, docs = kernel_index(corpus)
    rng = random.Random(seed * 7919 + 1)
    single = sorted(n for n, ds in docs.items() if len(ds) == 1 and ds[0].get("versions"))
    users = sorted({m["name"] for ds in docs.values() for d in ds
                    for m in d.get("maintainers") or [] if isinstance(m, dict)})
    engines = [(e, None) for e in ENGINE_INDEX] + [
        (e, v) for e, rel in ENGINE_INDEX.items()
        for v in (r["version"].lstrip("v") for r in rel)
        if engine_module_uri(ROOT, e, v) in by_subj]

    def answer(rows) -> list:
        return sorted((list(r) for r in rows), key=repr)

    def module(name, requested):
        doc = docs[name][0]
        resolved = resolve_module_version(doc, requested)
        path = f"{_pkg_path(name)}/{requested}"
        if resolved is None:
            return path, 404, []
        if resolved != requested:
            return path, 307, [[module_uri(ROOT, name, requested),
                                PREFIXES["npm"] + "maxSatisfying",
                                module_uri(ROOT, name, resolved), False, None]]
        return path, 200, answer(by_subj.get(module_uri(ROOT, name, resolved), ()))

    out = []
    for kind, n in MIX.items():
        for _ in range(n):
            accept = None
            if kind == "bundle":
                name = rng.choice(sorted(docs))
                path, status = _pkg_path(name), 200
                rows = answer(by_subj.get(bundle_uri(ROOT, name), ()))
            elif kind == "module":
                name = rng.choice(single)
                path, status, rows = module(
                    name, rng.choice(sorted(docs[name][0]["versions"])))
            elif kind == "range":
                name = rng.choice(single)
                major = sorted(docs[name][0]["versions"])[0].split(".")[0]
                path, status, rows = module(name, rng.choice(["^", "~"]) + major + ".0.0")
            elif kind == "tag":
                path, status, rows = module(rng.choice(single), "latest")
            elif kind == "user":
                user = rng.choice(users)
                path, status = f"/users/npm/{user}", 200
                iri = user_uri(ROOT, user)
                rows = answer(by_subj.get(iri, set()) | by_obj.get(iri, set()))
            elif kind == "engine":
                engine, version = rng.choice(engines)
                iri = (engine_module_uri(ROOT, engine, version) if version
                       else engine_bundle_uri(ROOT, engine))
                path = f"/engines/{engine}" + (f"/{version}" if version else "")
                status, rows = 200, answer(by_subj.get(iri, ()))
            elif kind == "miss":
                path = f"{_pkg_path(f'absent-{rng.randrange(10**6)}')}/1.0.0"
                status, rows = 404, []
            else:  # refused: no acceptable representation
                path = _pkg_path(rng.choice(sorted(docs)))
                accept, status, rows = "image/png", 406, []
            out.append({"kind": kind, "path": path, "accept": accept,
                        "status": status, "rows": rows})
    rng.shuffle(out)
    return out


class Server:
    """Answers requests through ``plans.serving.route`` over a triples
    table written by ``kg.write_triples`` and a docs table."""

    def __init__(self, spark, triples: Path, docs: Path):
        self.triples = spark.read.parquet(str(triples))
        self.docs = spark.read.parquet(str(docs))

    def request(self, req: dict) -> tuple[int, set, float]:
        """One request answered in full; returns (status, rows, serialize ms)."""
        from npm_extraction_server_spark.plans import serving

        res = serving.route(self.triples, self.docs, req["path"], req["accept"],
                            ROOT, n_buckets=N_BUCKETS)
        if res["triples"] is None:
            return res["status"], set(), 0.0
        rows = res["triples"].collect()
        t0 = time.perf_counter()
        serving.serialize_answer(rows, res["fmt"])
        return res["status"], _rows(rows), (time.perf_counter() - t0) * 1e3


WORKLOADS = {w.name: w for w in (Extract, Link)}
