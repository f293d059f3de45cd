"""The benchmark workloads: inputs, the timed job, the output check and
the workload's own per-layer measurements.

Each job calls the engine's public entry points exactly as a user would
and ends in a sink, so its wall time is what a caller waits for.
"""

from __future__ import annotations

import os
import pickle
import random
import re
import shutil
import statistics
import time
import zlib
from collections import Counter
from collections.abc import Iterator

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type

from dss_plugin_nlp_analysis_spark.demo import DEMO_KEYWORD_REGEX
from dss_plugin_nlp_analysis_spark.operators.dedup import minhash_candidate_pairs
from dss_plugin_nlp_analysis_spark.operators.kg import build_triples, canonical_map
from dss_plugin_nlp_analysis_spark.operators.ontology import TagOptions, compile_ontology
from dss_plugin_nlp_analysis_spark.operators.tagger import process_document, tag_documents
from dss_plugin_nlp_analysis_spark.operators.webclean import line_dedup
from dss_plugin_nlp_analysis_spark.plans.checkpoint import read_manifest, run_checkpointed_build

import gen


def _write_files(path: str, table: pa.Table, file_of: list[int], n_files: int) -> None:
    """Write ``table`` as ``n_files`` parquet files, row i into file_of[i]."""
    os.makedirs(path)
    groups: list[list[int]] = [[] for _ in range(n_files)]
    for i, f in enumerate(file_of):
        groups[f].append(i)
    for f, idx in enumerate(groups):
        pq.write_table(table.take(pa.array(idx, pa.int64())), f"{path}/part-{f:03d}.parquet")


def _by_host(urls: list[str], n_files: int) -> list[int]:
    """File of each row, by host hash — the layout of a host-partitioned
    crawl, so hot hosts make some files (and partitions) larger."""
    return [zlib.crc32(u.split("/")[2].encode()) % n_files for u in urls]


def _null_boundary_udf(schema: T.DataType):
    """An ``arrow_udf`` with the kernel UDF's in/out types that does no
    work: timing it isolates the JVM↔Python Arrow crossing."""
    arrow_type = to_arrow_type(schema)

    @arrow_udf(schema)
    def null(it: Iterator[tuple[pa.Array, pa.Array]]) -> Iterator[pa.Array]:
        for text, _lang in it:
            yield pa.array([[]] * len(text), type=arrow_type)

    return null


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Workload:
    """Shared shape of the two tagging workloads. A subclass sets
    ``rows`` (the docs), ``onto_rows``/``options``/``has_category`` (the
    ontology as ``build_triples``/``tag_documents`` compile it) and
    implements ``materialize``, ``job``, ``check`` and ``trace_layers``."""

    name = ""
    languages: list[str]
    options = TagOptions()
    has_category = False
    broadcasts_cmap = False  # build_triples ships (compiled, cmap)
    boundary_schema: T.DataType

    def __init__(self, seed: int, cores: int) -> None:
        self.seed = seed
        self.cores = cores
        self.n_files = 2 * cores
        # output checks made inside the traced run, one list of errors each
        self.trace_checks: list[list[str]] = []

    def compile(self):
        return compile_ontology(self.onto_rows, self.languages, self.options, self.has_category)

    # input_dir/docs holds the documents; other tables sit beside it
    def docs(self, spark, input_dir: str):
        return spark.read.parquet(f"{input_dir}/docs")

    def prepare(self, spark, input_dir: str, work_dir: str) -> None:
        self.input_dir = input_dir
        self.work_dir = work_dir

    def boundary_job(self, spark, input_dir: str) -> None:
        """Null Arrow UDF over the docs, exploded, into a count sink."""
        udf = _null_boundary_udf(self.boundary_schema)
        docs = self.docs(spark, input_dir)
        docs.select(F.explode_outer(udf(F.col("text"), F.col("lang")))).groupBy().count().collect()

    def replay_docs(self) -> list[tuple]:
        """(doc id, text, lang) as the kernel sees them."""
        raise NotImplementedError

    def replay_layers(self, tracer_cls) -> dict:
        """Single-core driver replay of ``process_document`` over every
        doc: once plain for the rate, once traced for spans and counts.
        Language dispatch is the kernel UDF's: NULL/'' -> 'en', a
        language the ontology was not compiled for is skipped."""
        compiled = self.compile()
        known = set(compiled.patterns)
        for lang in known:
            compiled.automaton_for(lang)  # built once per worker, not per doc
        docs = [(d, t, lang if isinstance(lang, str) and lang else "en")
                for d, t, lang in self.replay_docs()]

        t0 = time.perf_counter()
        for _doc, text, lang in docs:
            if lang in known:
                process_document(compiled, text, lang)
        untraced = time.perf_counter() - t0

        out = Counter({"tagger.docs_in": len(docs), "tagger.skipped_lang_docs": 0,
                       "tagger.fast_path_docs": 0, "tagger.generic_path_docs": 0,
                       "tagger.matches": 0})
        with tracer_cls() as tracer:
            for doc, text, lang in docs:
                if lang not in known:
                    out["tagger.skipped_lang_docs"] += 1
                    continue
                tracer.doc = doc
                calls = tracer.counts["tokenizer.calls"]
                _sents, matches = tracer.process_document(compiled, text, lang)
                out["tagger.matches"] += len(matches)
                generic = tracer.counts["tokenizer.calls"] > calls
                out["tagger.generic_path_docs" if generic else "tagger.fast_path_docs"] += 1
        self.tracer = tracer
        counts = tracer.counts
        layers = dict(out)
        tagged = len(docs) - out["tagger.skipped_lang_docs"]
        layers["tagger.docs_per_s_core"] = len(docs) / untraced
        layers["tagger.fast_path_share"] = out["tagger.fast_path_docs"] / max(tagged, 1)
        layers["tokenizer.tokens"] = counts["tokenizer.tokens"]
        layers["textnorm.identity_share"] = (
            counts["textnorm.identity"] / max(counts["textnorm.sentences"], 1)
        )
        layers["automaton.probes"] = counts["automaton.probes"]
        layers["automaton.hit_share"] = (
            counts["automaton.hit_probes"] / max(counts["automaton.probes"], 1)
        )
        for name, self_s in tracer.self_times().items():
            layers[f"{name}_s"] = self_s
        return layers

    def ontology_layers(self, reps: int) -> dict:
        """Driver-side ontology compile, canonical map and broadcast size."""
        compile_s, cmap_s = [], []
        for _ in range(reps):
            t0 = time.perf_counter()
            compiled = self.compile()
            compile_s.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            cmap = canonical_map(self.onto_rows)
            cmap_s.append(time.perf_counter() - t0)
        payload = (compiled, cmap) if self.broadcasts_cmap else compiled
        return {
            "ontology.compile_s": _median(compile_s),
            "kg.canonical_map_s": _median(cmap_s),
            "ontology.broadcast_mb": len(pickle.dumps(payload)) / 1e6,
        }


# --- plain_words --------------------------------------------------------------

class PlainWords(Workload):
    """``tag_documents(one_row_per_match)`` + demo ontology + count sink
    over sf0.1-profile plain-words docs."""

    name = "plain_words"
    n_docs = 20_000
    languages = gen.DEMO_LANGUAGES
    onto_rows = [(t, k, None) for t, k in gen.DEMO_ONTOLOGY]
    boundary_schema = T.ArrayType(T.StructType(
        [T.StructField(f, T.StringType()) for f in ("tag", "keyword", "sentence")]
    ))

    def __init__(self, seed: int, cores: int) -> None:
        super().__init__(seed, cores)
        self.rows = gen.plain_docs(self.n_docs, seed)
        self.expected = self._expected_counts()

    def _expected_counts(self) -> Counter:
        """Per-tag rows from an independent regex count: one row per
        distinct (tag, keyword) in a doc, one NULL-tag row per doc with
        no match."""
        tag_of = {kw: tag for tag, kw in gen.DEMO_ONTOLOGY}
        pattern = re.compile(DEMO_KEYWORD_REGEX)
        counts: Counter = Counter()
        for _id, text, _lang in self.rows:
            found = set(pattern.findall(text))
            if not found:
                counts[None] += 1
            for kw in found:
                counts[tag_of[kw]] += 1
        return counts

    def materialize(self, input_dir: str) -> None:
        table = pa.table({
            "doc_id": pa.array([r[0] for r in self.rows], pa.int64()),
            "text": [r[1] for r in self.rows],
            "lang": [r[2] for r in self.rows],
        })
        _write_files(f"{input_dir}/docs", table,
                     [i * self.n_files // self.n_docs for i in range(self.n_docs)],
                     self.n_files)
        onto = pa.table({"tag": [t for t, _k in gen.DEMO_ONTOLOGY],
                         "keyword": [k for _t, k in gen.DEMO_ONTOLOGY]})
        os.makedirs(f"{input_dir}/ontology")
        pq.write_table(onto, f"{input_dir}/ontology/part-000.parquet")

    def job(self, spark, rep: str) -> dict:
        docs = self.docs(spark, self.input_dir)
        onto = spark.read.parquet(f"{self.input_dir}/ontology")
        tagged = tag_documents(docs, onto, output_format="one_row_per_match",
                               languages=self.languages)
        counts = {r["tag"]: r["count"] for r in tagged.groupBy("tag").count().collect()}
        return {"rows_out": sum(counts.values()), "counts": counts}

    def check(self, spark, result: dict) -> list[str]:
        got, want = Counter(result["counts"]), self.expected
        if got == want:
            return []
        diff = {k: (got.get(k), want.get(k)) for k in set(got) | set(want) if got.get(k) != want.get(k)}
        return [f"per-tag row counts differ from the regex count: {diff}"]

    def replay_docs(self):
        return self.rows

    def trace_layers(self, spark, jobs: list[dict], recorder_cls) -> dict:
        # no checkpoint sink and no crawl stage on this workload
        return {**self.ontology_layers(reps=5), **dict.fromkeys(CHECKPOINT_KEYS, 0),
                **dict.fromkeys(CrawlStage.KEYS, 0)}


# --- web_pages ----------------------------------------------------------------

CHECKPOINT_KEYS = ("checkpoint.write_s", "checkpoint.lineage_s", "checkpoint.files",
                   "checkpoint.mb_written")


class WebPages(Workload):
    """``run_checkpointed_build`` + ``build_triples`` into parquet over
    real-text pages and a seeded large ontology."""

    name = "web_pages"
    # sized so the kernel is a large part of a job next to the per-job
    # fixed cost (ontology compile, per-worker automata, the checkpoint's
    # queries); tagger.job_share reports the kernel's part
    n_docs = 6_000
    n_keywords = 20_000
    languages = gen.WEB_LANGUAGES
    options = TagOptions(ignore_case=True, ignore_diacritics=True, lemmatization=True)
    has_category = True
    broadcasts_cmap = True
    sample_docs = 40
    boundary_schema = T.ArrayType(T.StructType([
        T.StructField("pred", T.StringType()),
        T.StructField("obj", T.StringType()),
        T.StructField("keyword", T.StringType()),
        T.StructField("sentence", T.StringType()),
        T.StructField("sent_idx", T.IntegerType()),
        T.StructField("category", T.StringType()),
    ]))

    def __init__(self, seed: int, cores: int) -> None:
        super().__init__(seed, cores)
        self.num_buckets = cores
        self.onto_rows = gen.ontology_rows(self.n_keywords, seed)
        self.rows = gen.web_pages(self.n_docs, seed, self.onto_rows)
        rng = random.Random(seed + 1)
        self.sample = rng.sample(range(self.n_docs), self.sample_docs)
        self.expected = self._expected_triples()

    def _expected_triples(self) -> Counter:
        """Spark-free replay of the sampled docs: ``process_document`` +
        ``canonical_map``, with ``build_triples``' language dispatch."""
        compiled, cmap = self.compile(), canonical_map(self.onto_rows)
        out: Counter = Counter()
        for i in self.sample:
            url, _ts, text, lang = self.rows[i]
            if lang not in compiled.patterns:
                continue
            sentences, matches = process_document(compiled, text, lang)
            for m in matches:
                out[(url, m["tag"], cmap.get(m["tag"], m["tag"]), m["keyword"],
                     sentences[m["sent_idx"]], m["sent_idx"], m["category"], lang)] += 1
        return out

    def materialize(self, input_dir: str) -> None:
        table = pa.table({
            "url": [r[0] for r in self.rows],
            "warc_ts": pa.array([r[1] for r in self.rows], pa.timestamp("us", tz="UTC")),
            "text": [r[2] for r in self.rows],
            "lang": [r[3] for r in self.rows],
        })
        _write_files(f"{input_dir}/docs", table, _by_host(table["url"].to_pylist(), self.n_files),
                     self.n_files)
        onto = pa.table({
            "tag": [r[0] for r in self.onto_rows],
            "keyword": [r[1] for r in self.onto_rows],
            "category": [r[2] for r in self.onto_rows],
        })
        os.makedirs(f"{input_dir}/ontology")
        pq.write_table(onto, f"{input_dir}/ontology/part-000.parquet")

    def job(self, spark, rep: str) -> dict:
        # a fresh output and checkpoint per repetition: the build resumes
        # from its manifest, so a reused directory would skip every bucket
        out_dir = f"{self.work_dir}/triples-{rep}"
        ckpt_dir = f"{self.work_dir}/ckpt-{rep}"
        docs = self.docs(spark, self.input_dir)
        onto = spark.read.parquet(f"{self.input_dir}/ontology")

        def triple_fn(part):
            return build_triples(part, onto, category_col="category", options=self.options,
                                 languages=self.languages)

        t0 = time.perf_counter()
        res = run_checkpointed_build(spark, docs, triple_fn, out_dir, ckpt_dir,
                                     num_buckets=self.num_buckets,
                                     buckets_per_job=self.num_buckets)
        wall = time.perf_counter() - t0
        return {"rows_out": res.total_triples, "build": res, "out_dir": out_dir,
                "ckpt_dir": ckpt_dir, "wall": wall}

    def check(self, spark, result: dict) -> list[str]:
        errors = []
        res = result["build"]
        if res.skipped_buckets:
            errors.append(f"skipped buckets {res.skipped_buckets} in a fresh checkpoint")
        if sorted(res.processed_buckets) != list(range(self.num_buckets)):
            errors.append(f"processed buckets {res.processed_buckets}")
        manifest = read_manifest(spark, result["ckpt_dir"]).collect()
        if sorted(r["bucket"] for r in manifest) != list(range(self.num_buckets)):
            errors.append("manifest does not list every bucket once")
        if sum(r["input_rows"] for r in manifest) != self.n_docs:
            errors.append("manifest input rows do not add up to the input docs")
        triples = spark.read.parquet(result["out_dir"])
        n_back = triples.count()
        if n_back != res.total_triples or sum(r["triples"] for r in manifest) != n_back:
            errors.append(f"triples read back {n_back} != reported {res.total_triples}")
        urls = [self.rows[i][0] for i in self.sample]
        got = Counter(
            tuple(r) for r in triples.where(F.col("subj").isin(urls)).select(
                "subj", "pred", "obj", "keyword", "sentence", "sent_idx", "category", "lang"
            ).collect()
        )
        if got != self.expected:
            errors.append(
                f"sampled triples differ from the replay: {sum((got - self.expected).values())} "
                f"extra, {sum((self.expected - got).values())} missing"
            )
        return errors

    def cleanup(self, result: dict) -> None:
        shutil.rmtree(result["out_dir"], ignore_errors=True)
        shutil.rmtree(result["ckpt_dir"], ignore_errors=True)

    def replay_docs(self):
        return [(r[0], r[2], r[3]) for r in self.rows]

    def trace_layers(self, spark, jobs: list[dict], recorder_cls) -> dict:
        layers = self.ontology_layers(reps=1)
        writes, lineage, files, mb = [], [], [], []
        for result in jobs:
            groups = {(r["group_wall_s"], r["completed_at"])
                      for r in read_manifest(spark, result["ckpt_dir"]).collect()}
            write_s = sum(w for w, _at in groups)
            writes.append(write_s)
            lineage.append(result["wall"] - write_s)
            n, size = 0, 0
            for root, _dirs, names in os.walk(result["out_dir"]):
                for fn in names:
                    if fn.endswith(".parquet"):
                        n += 1
                        size += os.path.getsize(os.path.join(root, fn))
            files.append(n)
            mb.append(size / 1e6)
        layers.update(zip(CHECKPOINT_KEYS, map(_median, (writes, lineage, files, mb))))
        layers.update(self._crawl_layers(spark, recorder_cls))
        return layers

    def _crawl_layers(self, spark, recorder_cls) -> dict:
        """The crawl-cleaning stage over the same seed's crawl pages."""
        stage = CrawlStage(self.seed, self.cores)
        stage.materialize(f"{self.work_dir}/crawl")
        recorder = recorder_cls(spark, stage.input_dir)
        results, plans = [], []
        try:
            for _ in range(3):
                recorder.reset()
                results.append(stage.run(spark))
                plans.append(recorder.collect())
        finally:
            recorder.close()
        self.trace_checks = [stage.check(r) for r in results]
        return stage.layers(results, plans)


# --- crawl stage (measured inside the web_pages traced run) ------------------

class CrawlStage:
    """``line_dedup`` + ``minhash_candidate_pairs`` over string-id pages
    with planted duplicates and boilerplate: the shuffle- and
    aggregate-bound crawl-cleaning layers, with no Python kernel."""

    n_docs = 1_500
    KEYS = ("webclean.line_dedup_s", "webclean.lines_in", "webclean.lines_kept",
            "dedup.minhash_pairs_s", "dedup.candidate_pairs", "dedup.plan_exchanges",
            "dedup.plan_sort_aggregates", "dedup.shuffle_mb")

    def __init__(self, seed: int, cores: int) -> None:
        self.n_files = 2 * cores
        self.crawl = gen.crawl_pages(self.n_docs, seed)
        self.rows = self.crawl["rows"]
        self.expected_clean = self._replay_line_dedup()
        self.lines_in = sum(len(self._lines(t)) for _u, t, _l in self.rows)

    @staticmethod
    def _lines(text: str) -> list[str]:
        # split on \n, trim spaces, drop empty lines (as line_dedup does)
        return [ln for ln in (x.strip(" ") for x in text.split("\n")) if ln]

    def _replay_line_dedup(self) -> dict[str, str]:
        """First occurrence by (id, position) keeps a line."""
        seen: set[str] = set()
        out: dict[str, str] = {}
        for url, text, _lang in sorted(self.rows):
            kept = []
            for ln in self._lines(text):
                if ln not in seen:
                    seen.add(ln)
                    kept.append(ln)
            out[url] = "\n".join(kept)
        return out

    def materialize(self, input_dir: str) -> None:
        urls = [r[0] for r in self.rows]
        table = pa.table({"url": urls, "text": [r[1] for r in self.rows],
                          "lang": [r[2] for r in self.rows]})
        _write_files(input_dir, table, _by_host(urls, self.n_files), self.n_files)
        self.input_dir = input_dir

    def run(self, spark) -> dict:
        docs = spark.read.parquet(self.input_dir)
        t0 = time.perf_counter()
        clean = {r["id"]: r["clean_text"] for r in line_dedup(docs, "url", "text").collect()}
        t1 = time.perf_counter()
        # 4 bands of 4 rows: a random page pair that shares only
        # boilerplate (Jaccard ~0.04) almost never collides, a planted
        # near duplicate (~0.85) almost always does
        pairs = minhash_candidate_pairs(docs, "url", "text", num_hashes=16, bands=4).collect()
        t2 = time.perf_counter()
        return {"clean": clean, "pairs": {(r[0], r[1]) for r in pairs},
                "line_dedup_s": t1 - t0, "minhash_s": t2 - t1}

    def check(self, result: dict) -> list[str]:
        """Every text equals the first-occurrence replay, each boilerplate
        line survives exactly once, every planted exact pair is found."""
        errors = []
        got = result["clean"]
        if got != self.expected_clean:
            bad = sum(got.get(u) != t for u, t in self.expected_clean.items())
            errors.append(f"line_dedup output differs from the replay on {bad} docs")
        for line in self.crawl["boilerplate"]:
            n = sum(line in t.split("\n") for t in got.values())
            if n != 1:
                errors.append(f"boilerplate line kept {n} times: {line!r}")
        missed = [p for p in self.crawl["exact_pairs"] if p not in result["pairs"]]
        if missed:
            errors.append(f"{len(missed)} planted exact-duplicate pairs not found")
        return errors

    def layers(self, results: list[dict], plans: list[dict]) -> dict:
        def med(key):
            return _median([p[key] for p in plans])

        return dict(zip(self.KEYS, (
            _median([r["line_dedup_s"] for r in results]),
            self.lines_in,
            _median([sum(len(self._lines(t)) for t in r["clean"].values()) for r in results]),
            _median([r["minhash_s"] for r in results]),
            _median([len(r["pairs"]) for r in results]),
            med("plan.exchanges"),
            med("plan.sort_aggregates"),
            med("exchange.shuffle_mb"),
        )))


WORKLOADS = {w.name: w for w in (PlainWords, WebPages)}
