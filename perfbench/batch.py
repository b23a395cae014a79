"""``curation``: the closed-loop batch workload of the text-curation and
embedding layers.

One job is two independent stages over one seeded input directory:

* corpus: near-duplicate components (MinHash-LSH -> verify ->
  components), the Gopher gate, and the dedup -> gate -> split -> pack
  flow of ``corpus_prep_end_to_end``; the documents that survive all
  three go out in one commit through the ``s3_parquet_manifest`` batch
  writer;
* embeddings: corpus-wide SemDeDup (``dedup_semantic_cluster``), then
  IVF training, assignment and search (``ivf_topk``).

A batch curation job runs as a fresh Spark application, so its users pay
the JVM's warm-up (JIT, code generation, Python workers) on every run:
the first measured job is the first real job in the JVM, with no
untimed warm-up before it. Jobs then run back to back on the same input
for the measured time. Every job's outputs are checked against the registry's DuckDB oracles run on
the generated directory, and the committed survivors against the same
join of those oracles.
"""

from __future__ import annotations

import os
import time

import common
import gen

CORPUS_DOCS = 400
EMBED_VECTORS = 2000
CORPUS_CHECKED = ("dedup_near_dup_end_to_end", "quality_gopher_gate", "corpus_prep_end_to_end")
EMBED_CHECKED = ("dedup_semantic_cluster", "sim_ivf_topk")
TABLES = ("documents", "embeddings")


class CurationBench:
    def __init__(self, run: common.Run, seconds: float) -> None:
        self.run, self.seconds = run, seconds
        self.tracer = common.Tracer(False)
        self.spark = None
        self.endpoint = ""
        self.service, self.port_file = common.start_service(run)
        self.sf_dir = run.path("data", "input")
        self.items = CORPUS_DOCS + EMBED_VECTORS

    def inputs(self) -> dict:
        props = {
            "corpus": gen.write_documents(self.run.seed, CORPUS_DOCS, self.sf_dir),
            "embeddings": gen.write_embeddings(self.run.seed, EMBED_VECTORS, self.sf_dir),
        }
        return props

    def setup(self, k: int, master: str | None = None, event_log: bool = False) -> float:
        """One program set-up; returns its seconds: session start,
        DataSource registration and bucket creation, then one trivial
        job."""
        from pyspark import cloudpickle

        from spark_kinesis_article_analysis_spark import registry
        from spark_kinesis_article_analysis_spark.sources import s3_objects

        if self.spark is not None:
            common.stop_session(self.spark)
        t0 = time.perf_counter()
        self.spark = common.start_session(self.run, master=master, event_log=event_log)
        registry._load_all()
        self.specs = registry.all_specs()
        cloudpickle.register_pickle_by_value(s3_objects)
        self.spark.dataSource.register(s3_objects.S3ParquetManifestDataSource)
        if not self.endpoint:
            self.endpoint = common.service_endpoint(self.service, self.port_file)
        common.ensure_bucket(self.endpoint)
        self.spark.range(1).collect()
        return time.perf_counter() - t0

    def register_traced(self) -> None:
        from pyspark import cloudpickle

        import traced

        cloudpickle.register_pickle_by_value(traced)
        os.makedirs(self.run.path("spans"), exist_ok=True)
        self.spark.dataSource.register(traced.TracedS3Sink)

    def warm_up(self) -> float:
        """No untimed warm-up: see the module docstring."""
        return 0.0

    def measure(self, label: str, traced: bool = False) -> dict:
        """Jobs back to back for ``seconds`` (at least one); each job's
        wall time is one latency sample."""
        meter = common.ProgramMeter([self.service.pid])
        before = common.service_counters(self.endpoint)
        times, outputs = [], []
        svc0, wall0 = common.proc_cpu_s(self.service.pid), time.perf_counter()
        cpu0 = meter.cpu_s()
        meter.start()
        t_start = time.perf_counter()
        while not times or time.perf_counter() - t_start < self.seconds:
            out = self.job(self.sf_dir, f"{label}-{len(times)}", traced=traced)
            times.append(out.pop("elapsed_s"))
            outputs.append(out)
        cpu1 = meter.cpu_s()
        meter.stop()
        svc_share = (common.proc_cpu_s(self.service.pid) - svc0) / (time.perf_counter() - wall0)
        counters = common.counter_delta(common.service_counters(self.endpoint), before)
        failed, attempted, detail = self.check(outputs)
        items = self.items * len(times)
        return {
            "latencies_ms": [t * 1000 for t in times],
            "items_per_s": items / sum(times),
            "cpu_ms_per_kitem": (cpu1 - cpu0) * 1000 / items * 1000,
            "peak_pss_mb": meter.peak_mem / 2**20,
            "service.cpu_share": svc_share,
            "attempted": attempted,
            "failed": failed,
            "check": detail,
            "counters": counters,
            "outputs": outputs,
        }

    # --- the job --------------------------------------------------------------

    def job(self, sf_dir: str, label: str, traced: bool = False) -> dict:
        """One job; ``elapsed_s`` runs from its start to the survivors'
        commit and the IVF results' arrival. The outputs are collected
        for the check after the clock stops."""
        out: dict = {}
        t0 = time.perf_counter()
        with self.tracer.span("job", label):
            frames = self._corpus(sf_dir, label, traced)
            self._embeddings(sf_dir, label, traced, out)
        out["elapsed_s"] = time.perf_counter() - t0
        self.spark.sparkContext.setJobGroup("check", "collect", True)
        for name, df in frames.items():
            out[name] = df.toPandas()
            df.unpersist()
        out["prefix"] = f"survivors-{label}"
        return out

    def _corpus(self, sf_dir: str, label: str, traced: bool) -> dict:
        sc = self.spark.sparkContext
        frames = {}
        for name, group, span in (
            ("dedup_near_dup_end_to_end", "dedup", "functions.dedup"),
            ("quality_gopher_gate", "gopher", "functions.gopher"),
            ("corpus_prep_end_to_end", "pack", "operators.skew.pack"),
        ):
            sc.setJobGroup(group, name, True)
            with self.tracer.span(span, label):
                frames[name] = self.specs[name].build(self.spark, sf_dir).persist()
                frames[name].count()
        sc.setJobGroup("write", "survivors", True)
        with self.tracer.span("sources.s3_objects", label):
            nd, gq = frames["dedup_near_dup_end_to_end"], frames["quality_gopher_gate"]
            survivors = (
                frames["corpus_prep_end_to_end"]
                .join(nd.filter("is_survivor").select("doc_id"), "doc_id", "left_semi")
                .join(gq.filter("gopher_pass").select("doc_id"), "doc_id", "left_semi")
            )
            fmt = "s3_parquet_manifest_traced" if traced else "s3_parquet_manifest"
            extra = {"traceDir": self.run.path("spans")} if traced else {}
            survivors.write.format(fmt).mode("append").options(
                **common.s3_options(self.endpoint, f"survivors-{label}"), **extra).save()
        return frames

    def _embeddings(self, sf_dir: str, label: str, traced: bool, out: dict) -> None:
        from spark_kinesis_article_analysis_spark.functions import similarity

        sc = self.spark.sparkContext
        sc.setJobGroup("semantic", "dedup_semantic_cluster", True)
        with self.tracer.span("functions.semantic", label):
            out["dedup_semantic_cluster"] = self.specs["dedup_semantic_cluster"].build(
                self.spark, sf_dir).toPandas()
        if not traced:
            sc.setJobGroup("similarity", "ivf_topk", True)
            out["sim_ivf_topk"] = similarity.ivf_topk(self.spark, sf_dir, similarity.IVF_NPROBE).toPandas()
            return
        # the same plan, cut at the benchmark's calls so that training,
        # assignment and search each get a span of their own
        with self.tracer.span("functions.similarity", label):
            sc.setJobGroup("train", "ivf train", True)
            with self.tracer.span("functions.similarity.train", label):
                assigned, probes = similarity.ivf_index_and_probes(self.spark, sf_dir, similarity.IVF_NPROBE)
                probes = probes.persist()
                probes.count()
            sc.setJobGroup("assign", "ivf assign", True)
            with self.tracer.span("functions.similarity.assign", label):
                assigned = assigned.persist()
                assigned.count()
            sc.setJobGroup("search", "ivf search", True)
            with self.tracer.span("functions.similarity.search", label):
                out["sim_ivf_topk"] = similarity.ivf_score_and_rank(assigned, probes).toPandas()
        sc.setJobGroup("check", "candidates", True)
        out["candidates"] = (
            assigned.join(probes.select("query_id", "centroid_id"), "centroid_id")
            .filter("vec_id != query_id").select("query_id", "vec_id").distinct().count()
        )
        assigned.unpersist()
        probes.unpersist()

    # --- the check --------------------------------------------------------------

    def check(self, outputs: list[dict]) -> tuple[int, int, dict]:
        from spark_kinesis_article_analysis_spark.functions.semantic import SEM_BLOCK_CAP

        con = common.duck(self.sf_dir, TABLES)
        want = {n: con.sql(common.oracle_sql(self.specs[n].oracle)).df()
                for n in CORPUS_CHECKED + EMBED_CHECKED + ("sim_cosine_topk",)}
        for alias, n in (("nd", CORPUS_CHECKED[0]), ("gq", CORPUS_CHECKED[1]), ("cp", CORPUS_CHECKED[2])):
            con.register(alias, want[n])
        want_surv = con.sql(
            "SELECT * FROM cp WHERE doc_id IN (SELECT doc_id FROM nd WHERE is_survivor) "
            "AND doc_id IN (SELECT doc_id FROM gq WHERE gopher_pass)").df()
        failed = attempted = 0
        detail: dict = {}
        for o in outputs:
            for n in CORPUS_CHECKED + EMBED_CHECKED:
                bad = common.mismatched_rows(o[n], want[n])
                failed += bad
                attempted += len(want[n])
                detail[n] = detail.get(n, 0) + bad
            got, manifests = common.committed_table(self.endpoint, o["prefix"])
            bad = (common.mismatched_rows(got.drop(columns="committed_at_us"), want_surv)
                   if got is not None else len(want_surv))
            bad += abs(len(manifests) - 1)  # one commit per job
            failed += bad
            attempted += len(want_surv) + 1
            detail["survivors"] = detail.get("survivors", 0) + bad
            detail["objects_per_commit"] = sum(len(m["objects"]) for m in manifests) / max(len(manifests), 1)
        exact, ivf = want["sim_cosine_topk"], outputs[-1]["sim_ivf_topk"]
        hits = set(zip(ivf.query_id, ivf.neighbor_id)) & set(zip(exact.query_id, exact.neighbor_id))
        sem = want["dedup_semantic_cluster"]
        cap = SEM_BLOCK_CAP
        pairs = sum((s // cap) * cap * (cap - 1) + (s % cap) * (s % cap - 1)
                    for s in sem.groupby("cluster").size())
        detail.update({
            "survivor_rows": len(want_surv),
            "near_dup_removed_share": round(float(1 - want[CORPUS_CHECKED[0]]["is_survivor"].mean()), 4),
            "gopher_kept_share": round(float(want[CORPUS_CHECKED[1]]["gopher_pass"].mean()), 4),
            "recall_at_k": len(hits) / max(len(exact), 1),
            "semantic_dropped_share": round(float(1 - sem["kept"].mean()), 4),
            "semantic_pairs_per_vector": round(pairs / max(len(sem), 1), 3),
        })
        return failed, attempted, detail
