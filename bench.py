"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Throughput queries run over a deterministically replicated corpus
(documents × REPLICAS) so the numbers reflect engine throughput, not
5k-row fixed costs. ``--scaling`` runs the flagship job at two
parallelism levels (local[N] vs local[4N]) on the same input and reports
scaling efficiency (BASELINE.md north-rule proxy).
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPLICAS = int(os.environ.get("KG_BENCH_REPLICAS", "20"))
# the tagging/KG queries amortize fixed per-job costs over a larger corpus
# (the engine number, not the scheduling floor); dedup keeps the smaller
# corpus because its pair join grows superlinearly with corpus size
TAG_REPLICAS = int(os.environ.get("KG_BENCH_TAG_REPLICAS", str(REPLICAS * 5)))


def make_spark(cores: int) -> SparkSession:
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("kg-bench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("KG_BENCH_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def replicated_docs(spark: SparkSession, sf_dir: str, replicas: int, parts: int | None = None):
    """Deterministic corpus amplification: replicas × documents with
    distinct doc ids (same text distribution; exercises partitioning)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    reps = spark.range(replicas).withColumnRenamed("id", "rep")
    return (
        docs.crossJoin(F.broadcast(reps))
        .withColumn("doc_id", F.col("doc_id") + F.col("rep") * 1_000_000)
        .drop("rep")
        .repartition(parts or CPUS * 2, "doc_id")
    )


LANGS = ["en", "de", "zh", "fr", "es"]


def settle_host(threshold: float | None = None, max_wait_s: float = 180.0) -> float:
    """Wait (bounded) for the shared host's 1-min loadavg to drain below
    ``threshold`` before measuring. The r5 A/B evidence: the identical
    binary measured tag_match warm 3.50 s launching at loadavg < 1 vs
    5.68 s launching into a 15+ load drain from a previous JVM — a
    1.6× artifact that is pure host contention, not the engine. The
    gate costs at most ``max_wait_s`` and is OFF for sub-benchmarks
    that manage their own interleaving (--scaling)."""
    if threshold is None:
        threshold = float(os.environ.get("KG_BENCH_SETTLE_LOAD", str(max(2.0, CPUS / 8))))
    deadline = time.monotonic() + max_wait_s
    load = os.getloadavg()[0]
    while load > threshold and time.monotonic() < deadline:
        time.sleep(5.0)
        load = os.getloadavg()[0]
    return round(load, 2)


def bench_queries(spark: SparkSession) -> tuple[dict, int]:
    from dss_plugin_nlp_analysis_spark.demo import (
        demo_ontology_df,
        kg_oracle_ontology_df,
    )
    from dss_plugin_nlp_analysis_spark.operators.dedup import minhash_candidate_pairs
    from dss_plugin_nlp_analysis_spark.operators.kg import build_triples
    from dss_plugin_nlp_analysis_spark.operators.similarity import cosine_topk
    from dss_plugin_nlp_analysis_spark.operators.tagger import tag_documents

    docs = replicated_docs(spark, SF_DIR, TAG_REPLICAS).cache()
    n_docs = docs.count()
    if TAG_REPLICAS == REPLICAS:
        docs_small, n_small = docs, n_docs
    else:
        docs_small = replicated_docs(spark, SF_DIR, REPLICAS).cache()
        n_small = docs_small.count()

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    warmups: dict[str, int] = {}

    runs = int(os.environ.get("KG_BENCH_TIMED_RUNS", "3"))
    # at least one warmup run always happens — otherwise `best` would seed
    # from the cold measurement and the "steady-state" number could BE the
    # JIT-inflated cold time
    max_warm = max(1, int(os.environ.get("KG_BENCH_MAX_WARM", "6")))
    stable_tol = float(os.environ.get("KG_BENCH_STABLE_TOL", "0.20"))

    def timed(name, fn):
        # steady-state measurement with ADAPTIVE warmup: the first run pays
        # JIT/codegen/heap-growth (reported separately as cold), and some
        # plans need SEVERAL executions to leave the warmup regime — the
        # fused minhash shingle projection's generated class takes 2-3 runs
        # of C2 compilation to reach steady state (measured 15.6 → 26.6 →
        # 5.0 → 4.7 s; disabling whole-stage codegen removes most of the
        # cliff but loses ~10% steady state, so codegen stays on and the
        # harness warms instead). Convergence criterion: keep re-running
        # until TWO CONSECUTIVE runs fail to beat the best-so-far by more
        # than stable_tol (a plain "two adjacent runs agree" check can
        # terminate INSIDE the cliff — adjacent cliff runs are often
        # within 20% of each other while still 4× above steady state,
        # e.g. 23.6 → 20 → ... → 4.5). Then take the MIN over the timed
        # runs — the sandbox host is shared, so a single warm run can
        # also be inflated by an external load spike.
        t0 = time.perf_counter()
        fn()
        cold[name] = round(time.perf_counter() - t0, 3)
        best = cold[name]
        strikes = 0
        w = 0
        while w < max_warm and strikes < 2:
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            w += 1
            if dt < best * (1.0 - stable_tol):
                best = dt
                strikes = 0
            else:
                best = min(best, dt)
                strikes += 1
        warmups[name] = w
        for _ in range(max(runs - 2, 1)):
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    onto = demo_ontology_df(spark)
    onto_cat = demo_ontology_df(spark, with_category=True)

    # every timed query is a closure over its INPUT DataFrame so the exact
    # same logical plan can first run against a small same-shape corpus:
    # whole-stage codegen caches generated classes by source text, and two
    # plans that differ only in their (cached) input data generate
    # IDENTICAL source — so the 1-replica pre-warm run C2-compiles the
    # same classes the full-corpus timed run executes. r4's artifact
    # showed a 28 s cold tag_match (warm 4.8 s) because only the minhash
    # pipeline had a pre-warm: each timed plan owns DISTINCT generated
    # classes (different aggregates/projections), so warming one plan
    # does not warm its siblings.
    docs_warm = replicated_docs(spark, SF_DIR, 1, parts=CPUS).cache()
    docs_warm.count()

    def q_tag_match(d):
        tag_documents(d, onto, lang_col="lang", languages=LANGS).select(
            F.count("*"), F.count("tag")
        ).collect()

    def q_tag_category(d):
        tag_documents(
            d, onto_cat, lang_col="lang", category_col="category", languages=LANGS
        ).select(F.count("*")).collect()

    def q_tag_json(d):
        tag_documents(
            d, onto, lang_col="lang", output_format="one_row_per_doc_json",
            languages=LANGS,
        ).select(F.count("tag_json_full")).collect()

    def q_kg_triples(d):
        build_triples(
            d, kg_oracle_ontology_df(spark), url_col="doc_id", lang_col="lang",
            ts_col=None, category_col=None, languages=LANGS,
        ).select(F.count("*")).collect()

    def q_minhash(d):
        minhash_candidate_pairs(d, "doc_id", "text", num_hashes=8, bands=4).select(
            F.count("*")
        ).collect()

    # corpus-global line dedup: the one genuinely-shuffling webclean op
    # (multi-line docs derived the same way as the gated query)
    from dss_plugin_nlp_analysis_spark.operators.webclean import line_dedup

    def lined(d):
        t = F.trim(F.col("text"))
        for sep in (" table ", " value ", " a ", " the "):
            t = F.replace(t, F.lit(sep), F.lit("\n"))
        return d.withColumn("text", t)

    def q_line_dedup(d):
        line_dedup(lined(d), "doc_id", "text").select(
            F.count("*"), F.sum(F.length("clean_text"))
        ).collect()

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    def q_topk(_):
        cosine_topk(emb, emb.limit(50), k=10).select(F.count("*")).collect()

    plans = [
        ("tag_match", q_tag_match, docs),
        ("tag_match_category", q_tag_category, docs),
        ("tag_doc_json", q_tag_json, docs),
        ("kg_triples", q_kg_triples, docs),
        ("dedup_minhash", q_minhash, docs_small),
        ("line_dedup", q_line_dedup, docs_small),
        ("embedding_topk", q_topk, None),
    ]
    # pre-warm pass: run EVERY plan twice on the 1-replica corpus (first
    # spins the Python worker pool, second executes the freshly-compiled
    # classes so C2 profiling finishes on cheap data); the adaptive warmup
    # in timed() then converges in 1-2 full-corpus runs instead of riding
    # a 4-6x JIT cliff
    for _name, fn, _d in plans:
        fn(docs_warm)
        fn(docs_warm)
    for name, fn, d in plans:
        timed(name, lambda fn=fn, d=d: fn(d))

    # per-language throughput (VERDICT r4 #7): aggregate docs/s can hide a
    # CJK-lattice regression behind the fast-path languages; one warm
    # measured run per language over the lang-filtered cached corpus
    per_lang: dict[str, dict] = {}
    for lang in LANGS:
        dl = docs.where(F.col("lang") == lang)
        nl = dl.count()
        if not nl:
            continue
        job = lambda: tag_documents(  # noqa: E731
            dl, onto, lang_col="lang", languages=LANGS
        ).select(F.count("*"), F.count("tag")).collect()
        job()  # this filter shape is new -> one warm run
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            job()
            best = min(best, time.perf_counter() - t0)
        per_lang[lang] = {
            "sec": round(best, 3),
            "n_docs": nl,
            "docs_per_sec": round(nl / best, 1),
        }

    # flagship re-measure: tag_match is timed FIRST, so a transient
    # external load wave on the shared host can inflate its whole slot
    # while every later query measures clean (observed: warm 9.59 s with
    # load_start 0.18, siblings at 2.7-3.9 s — the wave had passed by
    # then). Two more timed runs at the END of the session bound that
    # failure mode: the recorded number is min(slot, end-of-run).
    for _ in range(2):
        t0 = time.perf_counter()
        q_tag_match(docs)
        timings["tag_match"] = round(
            min(timings["tag_match"], time.perf_counter() - t0), 3
        )

    docs_warm.unpersist()
    docs.unpersist()
    if docs_small is not docs:
        docs_small.unpersist()
    timings["_cold"] = cold
    timings["_warmups"] = warmups
    timings["_n_docs_dedup"] = n_small
    timings["_per_lang"] = per_lang
    return timings, n_docs


def scaling_leg(cores: int, replicas: int) -> dict:
    """One scaling measurement: the flagship tag job on the same input at
    ``local[cores]`` (steady-state: warm run measured). Host 1-min loadavg
    is recorded before/after so external load on the shared sandbox host is
    visible in the evidence, not silently folded into the engine number."""
    load_before = os.getloadavg()[0]
    spark = make_spark(cores)
    try:
        from dss_plugin_nlp_analysis_spark.demo import demo_ontology_df
        from dss_plugin_nlp_analysis_spark.operators.tagger import tag_documents

        docs = replicated_docs(spark, SF_DIR, replicas, parts=cores * 2).cache()
        n_docs = docs.count()
        onto = demo_ontology_df(spark)

        def job():
            tag_documents(docs, onto, lang_col="lang", languages=LANGS).select(
                F.count("*")
            ).collect()

        job()  # warm: worker pool + codegen (one-time session cost)
        # min over several timed runs INSIDE the leg: a single timed run
        # is one external-load wave away from garbage (r5 measured a
        # 32-core leg at 72 s / 31 s / 4.1 s across repeats on this
        # host); the interleaved-repeat min outside only helps if at
        # least one whole leg lands in a quiet window
        dt = float("inf")
        for _ in range(int(os.environ.get("KG_SCALING_LEG_RUNS", "3"))):
            t0 = time.perf_counter()
            job()
            dt = min(dt, time.perf_counter() - t0)
        return {
            "sec": round(dt, 3),
            "docs_per_sec": round(n_docs / dt, 1),
            "n_docs": n_docs,
            "load_before": round(load_before, 2),
            "load_after": round(os.getloadavg()[0], 2),
        }
    finally:
        spark.stop()


def run_skew() -> dict:
    """Hot-domain skew demonstration (north rule: 'salts hot domains to
    defuse skew'). Builds a corpus whose PHYSICAL layout is partitioned by
    domain — the realistic ingest layout of a crawl — with one domain
    holding ~50% of all documents, then runs the triple-extraction job
    twice on the SAME cached input: once inheriting the skewed layout
    (one straggler task carries half the corpus) and once after
    ``repartition(n, xxhash64(url))`` (the exchange
    ``run_checkpointed_build`` puts before the match stage; urls are
    distinct per doc, so the hot domain spreads evenly).
    Reports both walls and the speedup — the measured value of the salt
    exchange, not a design claim."""
    spark = make_spark(CPUS)
    try:
        from dss_plugin_nlp_analysis_spark.demo import kg_oracle_ontology_df
        from dss_plugin_nlp_analysis_spark.operators.kg import build_triples

        replicas = int(os.environ.get("KG_SKEW_REPLICAS", "40"))
        base = replicated_docs(spark, SF_DIR, replicas)
        # ~50% of docs land on one hot domain, the rest across 1000 hosts;
        # the input is then PARTITIONED BY DOMAIN (one fat partition)
        docs = (
            base.withColumn(
                "domain",
                F.when(
                    F.col("doc_id") % 2 == 0, F.lit("hot.example")
                ).otherwise(
                    F.concat(F.lit("host-"), (F.col("doc_id") % 1000).cast("string"), F.lit(".example"))
                ),
            )
            .withColumn(
                "url",
                F.concat(F.lit("https://"), F.col("domain"), F.lit("/doc/"), F.col("doc_id").cast("string")),
            )
            .repartition(CPUS, "domain")
            .cache()
        )
        n_docs = docs.count()
        onto = kg_oracle_ontology_df(spark)

        def job(salt: int | None):
            src = docs.repartition(salt, F.xxhash64("url")) if salt else docs
            build_triples(
                src, onto, url_col="url", lang_col="lang", ts_col=None,
                category_col=None, languages=LANGS,
            ).select(F.count("*")).collect()

        out: dict[str, dict] = {}
        for label, salt in (("skewed_layout", None), ("salted_repartition", CPUS * 2)):
            job(salt)  # warm: codegen/JIT for this plan shape
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                job(salt)
                best = min(best, time.perf_counter() - t0)
            out[label] = {
                "sec": round(best, 3),
                "docs_per_sec": round(n_docs / best, 1),
            }
        return {
            "metric": "skew_salt_speedup",
            "value": round(out["skewed_layout"]["sec"] / out["salted_repartition"]["sec"], 3),
            "unit": "x",
            "n_docs": n_docs,
            "hot_domain_share": 0.5,
            "cpus": CPUS,
            **out,
        }
    finally:
        spark.stop()


def _hash_work(iters: int) -> int:
    import hashlib

    h = b"x"
    for _ in range(iters):
        h = hashlib.md5(h).digest()
    return h[0]


def host_envelope(n: int, four_n: int, repeats: int = 3) -> dict:
    """Spark-free colocation probe: the SAME fixed CPU work per process at
    n vs 4n processes. On an exclusive host the two walls are equal
    (weak-scaling ideal); the measured ratio t_n/t_4n is the host's
    achievable parallel envelope at 4n procs — engine efficiency should be
    judged against it, not against a hardware-ideal 1.0 the host itself
    cannot deliver (shared sandbox, JVM+Python double-stack)."""
    import multiprocessing as mp

    iters = int(os.environ.get("KG_ENVELOPE_ITERS", "5000000"))

    def leg(procs: int) -> float:
        with mp.Pool(procs) as pool:
            t0 = time.perf_counter()
            pool.map(_hash_work, [iters] * procs)
            return time.perf_counter() - t0

    times: dict[int, list[float]] = {n: [], four_n: []}
    for _ in range(repeats):  # interleaved, min-per-leg (shared host)
        for procs in (n, four_n):
            times[procs].append(leg(procs))
    t_n, t_4n = min(times[n]), min(times[four_n])
    return {
        "procs": [n, four_n],
        "sec": [round(t_n, 3), round(t_4n, 3)],
        "weak_efficiency": round(t_n / t_4n, 3),
    }


def run_scaling() -> dict:
    """Same flagship job at local[N] and local[4N] in isolated subprocesses.

    Two modes (KG_SCALING_MODE):
    - ``strong`` (default): same input both legs; efficiency =
      (T_N / T_4N) / 4 — the north-rule proxy (BASELINE.md).
    - ``weak``: input scaled with cores (fixed work PER CORE); efficiency =
      T_N / T_4N — isolates scheduling/colocation overhead from the
      shrinking-partition effect of strong scaling.

    A Spark-free host-envelope probe (same fixed work per process at N vs
    4N procs) runs alongside: ``efficiency_vs_envelope`` divides out what
    the shared host itself loses at 4N-way parallelism."""
    import json as _json
    import subprocess
    import sys as _sys

    n = int(os.environ.get("KG_SCALING_N", max(2, CPUS // 4)))
    four_n = int(os.environ.get("KG_SCALING_4N", CPUS))
    replicas = int(os.environ.get("KG_SCALING_REPLICAS", "100"))
    repeats = int(os.environ.get("KG_SCALING_REPEATS", "3"))
    mode = os.environ.get("KG_SCALING_MODE", "strong")
    leg_replicas = {n: replicas, four_n: replicas if mode == "strong" else replicas * four_n // n}
    legs: dict[int, list[dict]] = {n: [], four_n: []}
    # interleave legs and keep the best run per leg — the sandbox host is
    # shared, so min-over-repeats filters external load spikes. The order
    # ALTERNATES per repeat and a settle pause precedes every leg: a fixed
    # (n, 4n) order always ran the 4n leg inside the n leg's load decay
    # (measured: load_before 7.6 on the 4n leg vs 0.2 on the n leg),
    # biasing efficiency systematically DOWN.
    settle = int(os.environ.get("KG_SCALING_SETTLE_SEC", "25"))
    for rep in range(repeats):
        order = (n, four_n) if rep % 2 == 0 else (four_n, n)
        for cores in order:
            time.sleep(settle)
            # r5 hardening: the fixed pause is not enough on this host —
            # external load arrives in multi-minute waves (measured legs
            # at loadavg 4-6 minutes after a 0.6 reading), so also gate
            # each leg behind the bounded load-drain wait; per-leg
            # load_before/after in the JSON remain the evidence
            settle_host(max_wait_s=float(os.environ.get("KG_SCALING_SETTLE_MAX", "150")))
            res = subprocess.run(
                [_sys.executable, __file__, "--scaling-leg", str(cores), str(leg_replicas[cores])],
                capture_output=True, text=True, check=True,
            )
            legs[cores].append(_json.loads(res.stdout.strip().splitlines()[-1]))
    out = {c: min(runs, key=lambda r: r["sec"]) for c, runs in legs.items()}
    speedup = out[n]["sec"] / out[four_n]["sec"]
    if mode == "strong":
        efficiency = round(speedup / (four_n / n), 3)
    else:  # weak: ideal is equal wall time on 4x data / 4x cores
        efficiency = round(speedup, 3)
    envelope = host_envelope(n, four_n)
    return {
        "mode": mode,
        "n_cores": n,
        "four_n_cores": four_n,
        **{str(k): v for k, v in out.items()},
        "all_runs": {str(c): [r["sec"] for r in runs] for c, runs in legs.items()},
        "efficiency": efficiency,
        "host_envelope": envelope,
        "efficiency_vs_envelope": round(
            min(efficiency / envelope["weak_efficiency"], 1.0), 3
        ),
    }


def run_kernel() -> dict:
    """Single-core pure-Python kernel throughput (no Spark): the per-doc
    pipeline (clean → tokenize → sentencize → normalize → automaton) over
    the actual SF corpus, best of 3."""
    import pyarrow.parquet as pq

    from dss_plugin_nlp_analysis_spark.operators.ontology import (
        TagOptions,
        compile_ontology,
    )
    from dss_plugin_nlp_analysis_spark.operators.tagger import process_document

    t = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["text", "lang"])
    docs = list(zip(t.column("text").to_pylist(), t.column("lang").to_pylist()))
    rows = [
        ("spark_tag", "spark", None), ("tbl", "table scan", None),
        ("slow_tag", "slow", None), ("win", "window", None),
        ("cust", "customer", None),
    ]
    langs = sorted({lang for _, lang in docs if lang})
    compiled = compile_ontology(rows, langs, TagOptions(), False)
    # mirror the UDF's skip_unknown: NULL/unsupported-lang rows are skipped
    docs = [(text, lang) for text, lang in docs if lang in compiled.patterns]
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        for text, lang in docs:
            process_document(compiled, text, lang)
        best = min(best, time.perf_counter() - t0)
    return {
        "metric": "kernel_docs_per_sec_per_core",
        "value": round(len(docs) / best, 1),
        "unit": "docs/sec/core",
        "n_docs": len(docs),
        "sf_dir": SF_DIR,
    }


def run_kernel_zh() -> dict:
    """zh lattice-segmentation kernel cost with a production-sized
    dictionary: synthesizes a 100k-word dict (jieba ``word freq`` format,
    zipf-ish counts), loads it through KG_SEGMENT_DICT_DIR, and measures
    single-core tokenize throughput over ~500-char synthetic zh docs —
    guards against a full lexicon turning the segmenter into the
    bottleneck. Reports the builtin-lexicon number on the same docs for
    comparison, plus the one-time dict build cost."""
    import os
    import random
    import tempfile

    from dss_plugin_nlp_analysis_spark.functions import tokenizer as tok

    rng = random.Random(42)
    chars = [chr(c) for c in range(0x4E00, 0x9FFF, 7)]
    words: set[str] = set()
    while len(words) < 100_000:
        n = rng.choice((2, 2, 2, 3, 3, 4))
        words.add("".join(rng.choice(chars) for _ in range(n)))
    word_list = sorted(words)
    rng.shuffle(word_list)
    docs = ["".join(rng.choice(word_list) for _ in range(160)) + "。" for _ in range(2000)]
    n_chars = sum(len(d) for d in docs)

    def measure() -> float:
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            for d in docs:
                tok.tokenize_raw(d, "zh")
            best = min(best, time.perf_counter() - t0)
        return best

    old_env = os.environ.pop("KG_SEGMENT_DICT_DIR", None)
    try:
        tok._SEG_DICT_CACHE.clear()
        builtin_s = measure()
        with tempfile.TemporaryDirectory() as tmp:
            with open(os.path.join(tmp, "zh_words.txt"), "w", encoding="utf-8") as f:
                for rank, w in enumerate(word_list, 1):
                    f.write(f"{w} {max(1_000_000 // rank, 2)}\n")
            os.environ["KG_SEGMENT_DICT_DIR"] = tmp
            tok._SEG_DICT_CACHE.clear()
            t0 = time.perf_counter()
            tok._seg_dict("zh")  # one-time per-process dict build
            load_s = time.perf_counter() - t0
            full_s = measure()
    finally:
        if old_env is None:
            os.environ.pop("KG_SEGMENT_DICT_DIR", None)
        else:
            os.environ["KG_SEGMENT_DICT_DIR"] = old_env
        tok._SEG_DICT_CACHE.clear()
    return {
        "metric": "zh_lattice_docs_per_sec_per_core",
        "value": round(len(docs) / full_s, 1),
        "unit": "docs/sec/core",
        "chars_per_sec": round(n_chars / full_s, 1),
        "builtin_docs_per_sec": round(len(docs) / builtin_s, 1),
        "dict_words": len(word_list),
        "dict_load_sec": round(load_s, 3),
        "n_docs": len(docs),
        "avg_doc_chars": round(n_chars / len(docs), 1),
    }


def main() -> None:
    if "--kernel-zh" in sys.argv:
        print(json.dumps(run_kernel_zh()))
        return
    if "--kernel" in sys.argv:
        print(json.dumps(run_kernel()))
        return
    if "--scaling-leg" in sys.argv:
        i = sys.argv.index("--scaling-leg")
        print(json.dumps(scaling_leg(int(sys.argv[i + 1]), int(sys.argv[i + 2]))))
        return
    if "--skew" in sys.argv:
        print(json.dumps({"skew": run_skew(), "sf_dir": SF_DIR}))
        return
    if "--scaling" in sys.argv:
        print(json.dumps({"scaling": run_scaling(), "sf_dir": SF_DIR}))
        return
    load_start = settle_host()
    spark = make_spark(CPUS)
    try:
        t0 = time.perf_counter()
        timings, n_docs = bench_queries(spark)
        cold = timings.pop("_cold")
        warm_runs = timings.pop("_warmups")
        n_docs_dedup = timings.pop("_n_docs_dedup")
        per_lang = timings.pop("_per_lang")
        total = round(time.perf_counter() - t0, 3)
        sf = SF_DIR.rstrip("/").split("sf")[-1]
        print(
            json.dumps(
                {
                    "metric": "docs_per_sec_tag_match",
                    "value": round(n_docs / timings["tag_match"], 1),
                    "unit": "docs/sec",
                    "queries": timings,
                    "cold_queries": cold,
                    "warm_runs": warm_runs,
                    "per_lang": per_lang,
                    "total_sec": total,
                    "n_docs": n_docs,
                    "n_docs_dedup": n_docs_dedup,
                    "sf": float(sf),
                    "cpus": CPUS,
                    "load_start": load_start,
                    "load_end": round(os.getloadavg()[0], 2),
                }
            )
        )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
