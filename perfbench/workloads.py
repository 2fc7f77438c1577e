"""The benchmark's workloads. Each one drives a public entry point of the
engine from outside it:

- ``kg_build``: ``KGPipeline.run`` over a generated source-code corpus, into
  a fresh checkpoint store per pass;
- ``query_suite``: ``benchqueries.QUERIES[name](spark, dir)`` over generated
  tables, each result checked against its DuckDB ``ORACLE_SQL`` twin.

A workload has ``setup(dest)`` (make and write the inputs), ``run_pass``
(timed), ``check`` (untimed; returns the failures of one pass) and
``layers`` (per-layer metrics of a traced run).
"""

from __future__ import annotations

import glob
import hashlib
import os
import statistics

import pandas as pd

from ontologymatching_spark.corpus.generator import generate_corpus
from ontologymatching_spark.plans.pipeline import KGPipeline, PipelineConfig

from tables import generate_tables, write_tables
from spans import Tracer, TracedStore, covered_s

# Stages in commit order (KGPipeline without structural boost).
STAGES = ["triples", "entities", "prepared", "candidate_pairs", "scored_pairs",
          "alignment", "nodes", "mentions", "links", "edges"]
TASK_STAGES = ["prepared", "candidate_pairs", "scored_pairs", "alignment"]
PYTHON_STAGES = ["triples", "entities", "prepared", "scored_pairs"]

# The bench queries this workload runs, in this order: a fixed subset of
# the 71, about half a minute in a fresh session on a 4-vCPU host, which is
# what one run can afford. They cover the ``_fan`` / repartition sites (pair
# kernels over one-split document and embedding scans), selection, dedup
# and streaming operators that the KG path never calls, and plain
# TPC-style aggregates.
QUERIES = [
    "embedding_neardup", "streaming_dedup", "stratified_mix",
    "asm_content_words", "jaro_winkler_pairs", "lev_blocked_pairs",
    "minhash_lsh_pairs", "embedding_topk", "tfidf_cosine_pairs",
    "mutual_best_selection", "pricing_summary", "region_rollup",
    "events_sessionize",
]


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def canon(pdf: pd.DataFrame) -> tuple[int, list[str], str]:
    """Order-insensitive (rows, columns, value hash) of a result: columns
    sorted by name, floats rounded to 9 places, rows sorted. The same
    canonical form as the repository's DuckDB parity tool, kept here so the
    benchmark does not depend on files outside its own directory."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols].copy()
    for c in cols:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].map(str)
        elif "datetime" in str(pdf[c].dtype):
            pdf[c] = pdf[c].astype("datetime64[us]").astype(str)
        elif pdf[c].dtype.kind == "f":
            pdf[c] = pdf[c].round(9)
        elif pdf[c].dtype.kind in "iu":
            pdf[c] = pdf[c].astype("int64")
    pdf = pdf.sort_values(cols).reset_index(drop=True)
    return len(pdf), cols, _sha(pdf.to_csv(index=False))[:16]


def alignment_digest(rows) -> str:
    """sha256 over the sorted (src_uri, dst_uri, sim) rows."""
    return _sha("\n".join(f"{s}\t{d}\t{sim!r}" for s, d, sim in sorted(rows)))


def f1(found: set, gold: set) -> float:
    hit = len(found & gold)
    if not hit:
        return 0.0
    p, r = hit / len(found), hit / len(gold)
    return 2 * p * r / (p + r)


# The output checks of one kg_build pass (see check_alignment).
KG_CHECKS = ["one_to_one", "sim_range", "digest", "gold"]


def check_alignment(rows, threshold: float, gold: set,
                    expected_digest: str | None):
    """Checks one alignment, given as (src_uri, dst_uri, sim) rows →
    (failures, digest, F1 against the planted gold). The alignment must be
    1-1, every sim in [threshold, 1], the digest equal to an earlier pass's
    of the same code and seed, and some gold pair found."""
    fails = []
    if any(len({r[i] for r in rows}) != len(rows) for i in (0, 1)):
        fails.append("one_to_one: alignment maps an entity twice")
    if any(not (threshold <= sim <= 1.0) for _, _, sim in rows):
        fails.append("sim_range: alignment sim outside [threshold, 1]")
    digest = alignment_digest(rows)
    if expected_digest is not None and digest != expected_digest:
        fails.append("digest: alignment differs from an earlier pass of the "
                     "same code and seed")
    score = f1({(s, d) for s, d, _ in rows}, gold)
    if score == 0.0:
        fails.append("gold: alignment shares no pair with the planted gold")
    return fails, digest, score


class KGBuild:
    name = "kg_build"

    def __init__(self, spark, work: str, seed: int, smoke: bool):
        self.spark = spark
        self.work = work
        self.cfg = PipelineConfig()
        n_repos, files = (4, 3) if smoke else (30, 10)
        self.corpus, gold = generate_corpus(
            n_repos=n_repos, files_per_repo=files, seed=seed)
        self.gold = set(zip(gold.src_uri, gold.dst_uri))
        self.input = None
        self.store = None
        self.f1 = 0.0

    def setup(self, dest: str) -> None:
        # the corpus goes to parquet through Spark's default writer, and is
        # read back inside the pass, the way jobs/run_pipeline.py reads --src
        self.spark.createDataFrame(self.corpus).write.parquet(dest)
        self.input = dest

    def prepare_check(self) -> None:
        pass

    def run_pass(self, tracer: Tracer, i: int) -> dict:
        self.store = TracedStore(
            self.spark, os.path.join(self.work, f"store{i}"), tracer)
        src = self.spark.read.parquet(self.input)
        try:
            out = KGPipeline(self.spark, self.store, self.cfg).run(src)
        except Exception as exc:  # a failing stage is counted, not fatal
            return {"error": exc}
        return {"alignment": out["alignment"]}

    def attempted(self) -> int:
        return len(STAGES) + len(KG_CHECKS)

    def check(self, result: dict, expected_digest: str | None):
        """→ (failures, alignment digest). Stages that did not commit count
        as failures; so does each output check that does not hold."""
        fails = [f"stage {s} did not commit" for s in STAGES
                 if not self.store.is_complete(s)]
        if "error" in result:
            err = result["error"]
            return fails + [f"{c}: no output ({type(err).__name__}: {err})"
                            for c in KG_CHECKS], None
        rows = [tuple(r) for r in result["alignment"]
                .select("src_uri", "dst_uri", "sim").collect()]
        f, digest, self.f1 = check_alignment(
            rows, self.cfg.threshold, self.gold, expected_digest)
        return fails + f, digest

    def quality(self, tracer: Tracer, wall_s: float) -> dict:
        if not self.store.is_complete("alignment"):
            return {}
        return {"kg.triples_per_s": self.store.manifest("triples")["rows"] / wall_s,
                "kg.align_f1_gold": self.f1}

    def live_layers(self) -> dict:
        """Layer metrics that read the last pass's store back through
        Spark, taken before the session stops."""
        st = self.store
        out = {f"checkpoint.{s}.read_parts": st.read(s).rdd.getNumPartitions()
               for s in ("prepared", "candidate_pairs")}
        pairs = st.manifest("candidate_pairs")["rows"]
        kept = st.read("scored_pairs").filter(
            f"sim >= {self.cfg.threshold}").count()
        out["matchers.keep_frac"] = kept / pairs if pairs else 0.0
        return out

    def layers(self, tracer: Tracer, groups: dict, passes: int,
               cores: int) -> dict:
        out: dict[str, float] = {}
        for s in STAGES:
            g = groups.get(f"stage.{s}", {})
            spans = [x for x in tracer.spans if x["name"] == f"stage.{s}"]
            wall = sum(x["end"] - x["start"] for x in spans)
            cov = sum(covered_s(g.get("intervals", []), x["start"], x["end"])
                      for x in spans)
            out[f"stage.{s}.wall_s"] = wall / passes
            out[f"stage.{s}.self_s"] = (wall - cov) / passes
            out[f"stage.{s}.busy_frac"] = (
                g.get("run_s", 0.0) / (wall * cores) if wall else 0.0)
            if s in TASK_STAGES:
                out[f"stage.{s}.tasks"] = g.get("tasks", 0) / passes
            if s in PYTHON_STAGES:
                out[f"stage.{s}.python_s"] = g.get("py_run_s", 0.0) / passes

        manifests = {s: self.store.manifest(s) for s in STAGES}
        out["checkpoint.out_mb"] = sum(m["bytes"] for m in manifests.values()) / 1e6
        out["checkpoint.files"] = sum(m["n_files"] for m in manifests.values())
        out["blocking.pairs"] = manifests["candidate_pairs"]["rows"]
        out["selection.alignments"] = manifests["alignment"]["rows"]
        out["selection.jobs"] = groups.get("stage.alignment", {}).get("jobs", 0) / passes
        out["components.jobs"] = groups.get("stage.nodes", {}).get("jobs", 0) / passes
        return out


class QuerySuite:
    name = "query_suite"

    def __init__(self, spark, work: str, seed: int, smoke: bool):
        self.spark = spark
        self.tables = generate_tables(seed)
        self.queries = QUERIES[:3] if smoke else QUERIES
        self.dir = None
        self.expected: dict[str, tuple] = {}

    def setup(self, dest: str) -> None:
        write_tables(self.tables, dest)
        self.dir = dest

    def prepare_check(self) -> None:
        """Expected canonical results from the DuckDB twins (untimed)."""
        import duckdb

        from ontologymatching_spark import benchqueries as B

        con = duckdb.connect()
        try:
            for t in self.tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.dir}/{t}.parquet'")
            self.expected = {q: canon(con.execute(B.ORACLE_SQL[q]).df())
                             for q in self.queries}
        finally:
            con.close()

    def run_pass(self, tracer: Tracer, i: int) -> dict:
        from ontologymatching_spark import benchqueries as B

        results: dict[str, pd.DataFrame | Exception] = {}
        for q in self.queries:
            # no query pays for, or profits from, an earlier one's caches
            self.spark.catalog.clearCache()
            with tracer.span(f"query.{q}"):
                try:
                    results[q] = B.QUERIES[q](self.spark, self.dir).toPandas()
                except Exception as exc:  # a failing query is counted, not fatal
                    results[q] = exc
        self.spark.catalog.clearCache()
        return results

    def attempted(self) -> int:
        return len(self.queries)

    def check(self, result: dict, expected_digest: str | None):
        """→ (failures, None): one failure per query that raised or whose
        canonical result differs from its DuckDB twin's."""
        fails = []
        for q, got in result.items():
            if isinstance(got, Exception):
                fails.append(f"{q} raised {type(got).__name__}: {got}")
            elif canon(got) != self.expected[q]:
                fails.append(f"{q}: rows/hash {canon(got)} differ from the "
                             f"DuckDB twin's {self.expected[q]}")
        return fails, None

    def quality(self, tracer: Tracer, wall_s: float) -> dict:
        walls = [s["end"] - s["start"] for s in tracer.spans[-len(self.queries) - 1:]
                 if s["name"].startswith("query.")]
        return {"query.p50_s": statistics.median(walls)}

    def live_layers(self) -> dict:
        return {}

    def layers(self, tracer: Tracer, groups: dict, passes: int,
               cores: int) -> dict:
        out = {}
        for q in self.queries:
            spans = [x for x in tracer.spans if x["name"] == f"query.{q}"]
            out[f"query.{q}.wall_s"] = sum(
                x["end"] - x["start"] for x in spans) / passes
        return out


WORKLOADS = {w.name: w for w in (KGBuild, QuerySuite)}


def code_fingerprint(root: str) -> str:
    """sha256 over the engine's source files: digests recorded under one
    fingerprint are only compared with passes of the same code."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(
            root, "ontologymatching_spark", "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def layer_names() -> list[str]:
    """Every per-layer metric, in report order. A traced run reports all of
    them; those of layers its workload does not exercise read 0."""
    names = ["trace.wall_s"]
    for s in STAGES:
        names += [f"stage.{s}.wall_s", f"stage.{s}.self_s", f"stage.{s}.busy_frac"]
        names += [f"stage.{s}.tasks"] if s in TASK_STAGES else []
        names += [f"stage.{s}.python_s"] if s in PYTHON_STAGES else []
    names += [
        "python.boot_s", "spark.task_cpu_s", "spark.shuffle_mb", "spark.spill_mb", "jvm.gc_s",
        "checkpoint.out_mb", "checkpoint.files",
        "checkpoint.prepared.read_parts", "checkpoint.candidate_pairs.read_parts",
        "blocking.pairs", "matchers.keep_frac", "selection.alignments",
        "selection.jobs", "components.jobs",
        "kg.triples_per_s", "kg.align_f1_gold", "query.p50_s",
    ]
    return names + [f"query.{q}.wall_s" for q in QUERIES]


def unit_of(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_frac", "_f1_gold")):
        return "ratio"
    return "count"
