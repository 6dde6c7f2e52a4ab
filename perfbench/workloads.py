"""The three benchmark workloads.

Each workload is a closed loop with one client: the benchmark issues one
Spark job at a time and starts the next iteration only when the previous
one has finished. ``setup`` makes the seeded inputs and fixtures,
``iterate`` runs one iteration and returns its measurements and its
correctness checks, and ``replay_inputs`` hands the kernel replay a fixed
sample of the iteration's own inputs.

Every call into a library layer runs inside a span named after the layer's
public function; spans named ``check.*`` are correctness checks and do not
count towards ``job_s``.
"""

from __future__ import annotations

import os
import shutil
import statistics

import numpy as np
from qfilter_spark.dist.checkpoint import MergeLineage

from . import inputs
from .replay import SKETCH_PARAMS

N_SHARDS = 64
FP_RATE = 0.01
BATCHES_PER_ITERATION = 2
SAMPLE_DOCS = 1000   # kernel-replay sample: the first corpus rows


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files
               if not f.startswith((".", "_")))


def _ngram_totals(df) -> tuple[int, int]:
    """(tokens, within-doc 3-grams) of a corpus DataFrame."""
    from pyspark.sql import functions as F

    row = df.agg(F.sum("n_tok"),
                 F.sum(F.greatest(F.col("n_tok") - F.lit(2), F.lit(0)))
                 ).collect()[0]
    return int(row[0] or 0), int(row[1] or 0)


def _rsqf_spec(n_keys: int, headroom: float = 1.05):
    from qfilter_spark.dist import SketchSpec

    return SketchSpec("rsqf", dict(capacity=int(n_keys * headroom) + 64,
                                   fp_rate=FP_RATE),
                      mode="tokens_ngram", col="tokens", ngram_n=3)


def _sample(corpus_path: str):
    tbl = inputs.read_arrow(corpus_path, ["tokens", "n_tok"]).slice(
        0, SAMPLE_DOCS)
    return tbl.column("tokens"), tbl.column("n_tok").to_numpy()


def _payloads(table_path: str, n: int = 8) -> list[bytes]:
    """The first ``n`` shard blobs of a written filter table."""
    import pyarrow.dataset as ds

    tbl = ds.dataset(table_path, format="parquet").to_table(
        columns=["shard", "payload"])
    order = np.argsort(tbl.column("shard").to_numpy())[:n]
    return [tbl.column("payload")[int(i)].as_py() for i in order]


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx

    def span(self, name: str, it: int):
        return self.ctx.tracer.span(name, it)

    def path(self, *parts: str) -> str:
        return os.path.join(self.ctx.work, "tables", self.name, *parts)

    def corpus(self):
        from qfilter_spark import sources

        return sources.read_corpus(self.ctx.spark, self.corpus_path)


class NgramFilter(Workload):
    """Build a 64-shard RSQF over every token 3-gram of the corpus, write it
    as a parquet table, probe every present 3-gram, and probe seeded absent
    keys for the false-positive rate."""

    name = "ngram_filter"

    def __init__(self, ctx, n_docs: int, n_absent: int):
        super().__init__(ctx)
        self.n_docs = n_docs
        self.n_absent = n_absent

    def setup(self) -> None:
        from pyspark.sql import functions as F

        spark, seed = self.ctx.spark, self.ctx.seed
        self.corpus_path = inputs.corpus_path(
            self.ctx.work, inputs.doc_base(seed), self.n_docs)
        self.tokens, self.ngrams = _ngram_totals(self.corpus())
        self.spec = _rsqf_spec(self.ngrams)
        self.fpr_bound = self.spec.make().filter.max_error_ratio()
        # absent keys: hashes of a seeded id range far above any token id
        off = int(np.random.default_rng([seed, 1]).integers(2**40, 2**50))
        self.absent = spark.range(self.n_absent).select(
            F.xxhash64((F.col("id") + F.lit(off)).cast("long")).alias("h"))
        self.table = self.path("filter")

    def iterate(self, it: int):
        from pyspark.sql import functions as F

        from qfilter_spark import sources
        from qfilter_spark.dist.sharded import (
            build_sharded_filter, probe_sharded, probe_sharded_chunks)

        spark, spec = self.ctx.spark, self.spec
        df = self.corpus().select("tokens")
        with self.span("dist.sharded.build_sharded_filter", it) as s_build:
            sources.write_filter_table(
                build_sharded_filter(df, spec, n_shards=N_SHARDS), self.table)
        fdf = sources.read_filter_table(spark, self.table)
        with self.span("check.stored_fps", it):
            stored = int(fdf.agg(F.sum("n_fps")).collect()[0][0] or 0)
        with self.span("dist.sharded.probe_sharded_chunks", it) as s_probe:
            r = probe_sharded_chunks(df, spec, fdf, N_SHARDS, spec) \
                .groupBy().sum("n_probed", "n_contained").collect()[0]
        n_probed, n_hit = int(r[0] or 0), int(r[1] or 0)
        with self.span("dist.sharded.probe_sharded", it):
            a = probe_sharded(self.absent, "h", fdf, N_SHARDS, spec) \
                .groupBy().sum("n_probed", "n_contained").collect()[0]
        a_probed, a_hit = int(a[0] or 0), int(a[1] or 0)
        fpr = a_hit / max(a_probed, 1)
        build_s, probe_s = s_build.wall, s_probe.wall
        values = {
            "build_s": build_s, "probe_s": probe_s, "fpr": fpr,
            "bytes_per_key": _dir_bytes(self.table) / max(stored, 1),
            "tokens_per_s": (self.tokens + n_probed) / (build_s + probe_s),
            "write_amp": 1.0,
        }
        checks = [
            ("stored n_fps equals the 3-gram count", stored == self.ngrams),
            ("every present 3-gram probed",
             n_probed == self.ngrams),
            ("zero false negatives", n_hit == n_probed),
            ("every absent key probed", a_probed == self.n_absent),
            (f"fpr <= 2^-rbits ({self.fpr_bound:.6f})", fpr <= self.fpr_bound),
        ]
        return values, checks

    def replay_inputs(self):
        tokens, n_tok = _sample(self.corpus_path)
        return tokens, n_tok, _payloads(self.table)

    def report(self) -> dict:
        return {"fpr_bound": self.fpr_bound, "tokens": self.tokens,
                "ngrams": self.ngrams, "n_absent": self.n_absent}


class IngestRetract(Workload):
    """Small update batches against a standing filter table: for each of
    two batches per iteration, insert the batch, probe its 3-grams and
    retract the same 3-grams; then check that the table is back to the
    base table byte for byte."""

    name = "ingest_retract"

    def __init__(self, ctx, n_docs: int, batch_docs: int, n_batches: int):
        super().__init__(ctx)
        self.n_docs = n_docs
        self.batch_docs = batch_docs
        self.n_batches = n_batches

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from qfilter_spark import sources
        from qfilter_spark.dist.sharded import build_sharded_filter

        spark, seed = self.ctx.spark, self.ctx.seed
        base = inputs.doc_base(seed)
        self.corpus_path = inputs.corpus_path(self.ctx.work, base, self.n_docs)
        self.pool_path = inputs.corpus_path(
            self.ctx.work, base + self.n_docs,
            self.batch_docs * self.n_batches, batch_docs=self.batch_docs)
        pool = spark.read.parquet(self.pool_path)
        per_batch = dict(pool.groupBy("batch").agg(F.sum(F.greatest(
            F.col("n_tok") - F.lit(2), F.lit(0)))).collect())
        self.batch_ngrams = {int(b): int(n) for b, n in per_batch.items()}
        _, base_ngrams = _ngram_totals(self.corpus())
        # a standing table has room for its updates: no shard may grow,
        # since a retract does not undo growth and the table would not
        # return to the base bytes. Hot 3-grams repeat, and all copies of
        # one land in one shard, so shards run well above the mean load.
        self.spec = _rsqf_spec(base_ngrams + sum(self.batch_ngrams.values()),
                               headroom=2.0)
        self.base_table = self.path("base")
        sources.write_filter_table(
            build_sharded_filter(self.corpus().select("tokens"), self.spec,
                                 n_shards=N_SHARDS), self.base_table)
        self.base_fps = base_ngrams
        self.base_digest = self._digest(self.base_table)
        self.order = np.random.default_rng([seed, 2]).permutation(
            self.n_batches)
        self.current = self.base_table
        self.writes = 0

    def _digest(self, path: str):
        from pyspark.sql import functions as F

        from qfilter_spark import sources

        return sorted(tuple(r) for r in sources.read_filter_table(
            self.ctx.spark, path).select(
                "shard", "n_fps", F.sha2("payload", 256)).collect())

    def iterate(self, it: int):
        from pyspark.sql import functions as F

        from qfilter_spark import sources
        from qfilter_spark.dist.sharded import (
            insert_sharded, probe_sharded_chunks, remove_sharded)
        from qfilter_spark.functions.ngrams import ngram_hash_rows

        spark, spec = self.ctx.spark, self.spec
        values = {"update_s": [], "probe_s": [], "bytes_per_key": [],
                  "write_amp": [], "work_items": 0}
        checks = []
        inserted = self.path("inserted")
        for j in range(BATCHES_PER_ITERATION):
            b = int(self.order[(it * BATCHES_PER_ITERATION + j)
                               % self.n_batches])
            n_new = self.batch_ngrams[b]
            batch = spark.read.parquet(self.pool_path) \
                .where(F.col("batch") == b).select("tokens")
            self.writes += 1
            retracted = self.path(f"retracted{self.writes % 2}")
            shutil.rmtree(inserted, ignore_errors=True)
            with self.span("dist.sharded.insert_sharded", it) as s_ins:
                sources.write_filter_table(insert_sharded(
                    sources.read_filter_table(spark, self.current), batch,
                    spec, N_SHARDS, spec), inserted)
            ins = sources.read_filter_table(spark, inserted)
            with self.span("dist.sharded.probe_sharded_chunks", it) as s_pr:
                r = probe_sharded_chunks(batch, spec, ins, N_SHARDS, spec) \
                    .groupBy().sum("n_probed", "n_contained").collect()[0]
            n_probed, n_hit = int(r[0] or 0), int(r[1] or 0)
            with self.span("dist.sharded.remove_sharded", it) as s_rem:
                sources.write_filter_table(remove_sharded(
                    ins, ngram_hash_rows(batch, "tokens", 3), "h", N_SHARDS,
                    spec), retracted)
            with self.span("check.inserted_fps", it):
                ins_fps = int(ins.agg(F.sum("n_fps")).collect()[0][0] or 0)
            self.current = retracted
            values["update_s"] += [s_ins.wall, s_rem.wall]
            values["probe_s"].append(s_pr.wall)
            values["bytes_per_key"].append(_dir_bytes(inserted)
                                           / max(ins_fps, 1))
            # fingerprints re-encoded (the whole table, on insert and on
            # retract) per fingerprint inserted or retracted
            values["write_amp"].append((ins_fps + self.base_fps)
                                       / max(2 * n_new, 1))
            values["work_items"] += 2 * n_new
            checks += [
                ("insert stores every batch 3-gram",
                 ins_fps == self.base_fps + n_new),
                ("every inserted 3-gram probes present",
                 n_probed == n_new and n_hit == n_new),
            ]
        with self.span("check.table_digest", it):
            checks.append(("table after the retracts is byte-equal to the "
                           "base table",
                           self._digest(self.current) == self.base_digest))
        return values, checks

    def replay_inputs(self):
        tokens, n_tok = _sample(self.corpus_path)
        return tokens, n_tok, _payloads(self.path("inserted"))

    def report(self) -> dict:
        return {"batch_docs": self.batch_docs, "n_batches": self.n_batches,
                "base_fps": self.base_fps}


class SourceStats(Workload):
    """Per-source distinct 3-grams (HLL, salted), a global count-min sketch
    of 3-grams probed at seeded candidate keys, and KLL and t-digest
    quantiles of document length through a checkpointed tree merge."""

    name = "source_stats"
    QUANTILES = (0.01, 0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99)

    def __init__(self, ctx, n_docs: int, n_candidates: int):
        super().__init__(ctx)
        self.n_docs = n_docs
        self.n_candidates = n_candidates

    def setup(self) -> None:
        """Inputs, plus the exact answers every iteration is checked
        against, computed in this process without the library's hash
        kernels: 3-grams are packed token-id triples."""
        import pyarrow.compute as pc
        from pyspark.sql import functions as F

        spark, seed = self.ctx.spark, self.ctx.seed
        self.corpus_path = inputs.corpus_path(
            self.ctx.work, inputs.doc_base(seed), self.n_docs)
        tbl = inputs.read_arrow(self.corpus_path,
                                ["tokens", "n_tok", "source"])
        keys, doc = inputs.trigram_keys(tbl.column("tokens"))
        sources = pc.cast(tbl.column("source"), "string").to_numpy(
            zero_copy_only=False)
        src_of = sources[doc]
        self.distinct = {s: int(np.unique(keys[src_of == s]).size)
                         for s in np.unique(sources)}
        uniq, counts = np.unique(keys, return_counts=True)
        self.n_ngrams = int(keys.size)
        self.tokens = int(tbl.column("n_tok").to_numpy().sum())
        rng = np.random.default_rng([seed, 3])
        # candidates: the heaviest 3-grams, a seeded sample of the rest,
        # and seeded absent keys (true count 0)
        heavy = np.argsort(counts)[-self.n_candidates // 4:]
        rest = rng.choice(uniq.size, self.n_candidates // 2, replace=False)
        pick = np.unique(np.concatenate([heavy, rest]))
        toks = inputs.key_to_tokens(uniq[pick])
        n_abs = self.n_candidates - pick.size
        absent_ids = rng.integers(2**40, 2**50, n_abs)
        rows = ([(int(a), int(b), int(c), int(n), False)
                 for (a, b, c), n in zip(toks, counts[pick])]
                + [(int(x), 0, 0, 0, True) for x in absent_ids])
        cand = spark.createDataFrame(
            rows, "a long, b long, c long, truth long, absent boolean")
        self.candidates = cand.select(
            F.when(F.col("absent"), F.xxhash64("a"))
            .otherwise(F.xxhash64("a", "b", "c")).alias("h"), "truth")
        self.n_tok_sorted = np.sort(tbl.column("n_tok").to_numpy())

    def _quantile_ratio(self, sk, tol) -> float:
        """Worst rank error of ``sk``'s quantiles over the allowed error.

        A value's true rank is an interval when the data has ties; the
        error is the distance from q to that interval."""
        s, n = self.n_tok_sorted, self.n_tok_sorted.size
        worst = 0.0
        for q in self.QUANTILES:
            v = float(sk.quantile(q))
            lo = np.searchsorted(s, v, side="left") / n
            hi = np.searchsorted(s, v, side="right") / n
            err = max(lo - q, q - hi, 0.0)
            worst = max(worst, err / tol(q))
        return worst

    def iterate(self, it: int):
        from qfilter_spark import sketches
        from qfilter_spark.dist import SketchSpec
        from qfilter_spark.dist.agg import (
            build_grouped_sketches, build_sketch, partial_sketches, tree_merge)
        from qfilter_spark.dist.probe import probe_hashes

        spark = self.ctx.spark
        df = self.corpus()
        ngram_spec = {kind: SketchSpec(kind, SKETCH_PARAMS[kind],
                                       mode="tokens_ngram", col="tokens")
                      for kind in ("hll", "cms")}
        with self.span("dist.agg.build_grouped_sketches", it):
            rows = build_grouped_sketches(df, "source",
                                          ngram_spec["hll"]).collect()
        hll_ratio = 0.0
        for r in rows:
            sk, true = sketches.loads(bytes(r["payload"])), self.distinct[
                r["source"]]
            hll_ratio = max(hll_ratio, abs(sk.estimate() - true)
                            / (HLL_SIGMAS * sk.relative_sd() * true))

        with self.span("dist.agg.build_sketch", it):
            cms_blob = build_sketch(df.select("tokens"), ngram_spec["cms"])
        with self.span("dist.probe.probe_hashes", it):
            probed = probe_hashes(self.candidates, cms_blob, "h") \
                .select("truth", "est_count").collect()
        cms = sketches.loads(cms_blob)
        truth = np.array([r[0] for r in probed], dtype=np.int64)
        est = np.array([r[1] for r in probed], dtype=np.int64)
        cms_ratio = float(((est - truth) / (cms.eps() * cms.n_total)).max())

        quantile_ratio, counts_ok, rounds, round_walls = {}, [], [], []
        values = df.select("n_tok")
        for kind, tol in (("kll", _kll_tol), ("tdigest", _tdigest_tol)):
            spec = SketchSpec(kind, SKETCH_PARAMS[kind], mode="values",
                              col="n_tok")
            lineage = TracedLineage(spark, self.path(f"checkpoint_{kind}"),
                                    self.ctx.tracer, it)
            with self.span("dist.agg.tree_merge", it):
                blob = tree_merge(partial_sketches(values, spec),
                                  fan_in=QUANTILE_FAN_IN, lineage=lineage,
                                  n_partials=values.rdd.getNumPartitions())
            sk = sketches.loads(blob)
            rounds.append(lineage.rounds - 1)
            round_walls += lineage.walls[1:]
            counts_ok.append(sk.n == self.n_docs)
            quantile_ratio[kind] = self._quantile_ratio(sk, tol)

        ratios = self.ratios = {"hll": hll_ratio, "cms": cms_ratio,
                                **quantile_ratio}
        worst = max(ratios.values())
        values_out = {
            "est_error_vs_bound": worst,
            "work_items": self.tokens,
            "broadcast_mb": len(cms_blob) / 2**20,
            "merge_rounds": statistics.mean(rounds),
            "round_walls": round_walls,
        }
        checks = [
            ("one HLL per source", sorted(r["source"] for r in rows)
             == sorted(self.distinct)),
            ("every candidate probed", len(probed) == self.n_candidates),
            ("CMS never underestimates", bool((est >= truth).all())),
            ("CMS counted every 3-gram", cms.n_total == self.n_ngrams),
            ("quantile sketches counted every document", all(counts_ok)),
            ("est_error_vs_bound <= 1", worst <= 1.0),
        ]
        return values_out, checks

    def replay_inputs(self):
        tokens, n_tok = _sample(self.corpus_path)
        return tokens, n_tok, []

    def report(self) -> dict:
        return {"tokens": self.tokens, "ngrams": self.n_ngrams,
                "sources": len(self.distinct),
                "candidates": self.n_candidates,
                "error_vs_bound_last_iteration": self.ratios,
                "bounds": {"hll": f"{HLL_SIGMAS} * relative_sd * true",
                           "cms": "eps * N",
                           "kll": f"{KLL_RANK_TOL} normalized rank error",
                           "tdigest": "rank error 0.005 (0.002 at q<=0.01 "
                                      "or q>=0.99)"}}


#: error bounds the accuracy checks hold the sketches to: HLL's standard
#: error, and the rank tolerances the library's own sketch tests use
HLL_SIGMAS = 4
KLL_RANK_TOL = 0.025
#: tree-merge fan-in of the quantile sketches: several checkpointed rounds
QUANTILE_FAN_IN = 4


def _kll_tol(q: float) -> float:
    return KLL_RANK_TOL


def _tdigest_tol(q: float) -> float:
    return 0.002 if min(q, 1 - q) <= 0.01 else 0.005


class TracedLineage(MergeLineage):
    """Checkpointed merge lineage whose every round write is a span."""

    def __init__(self, spark, directory: str, tracer, it: int):
        super().__init__(spark, directory)
        self.tracer = tracer
        self.it = it
        self.walls: list[float] = []   # per round written, round 0 first

    @property
    def rounds(self) -> int:
        return len(self.walls)

    def write_round(self, df, rnd: int):
        with self.tracer.span("dist.checkpoint.write_round", self.it) as s:
            out = super().write_round(df, rnd)
        self.walls.append(s.wall)
        return out


WORKLOADS = {"ngram_filter": NgramFilter, "ingest_retract": IngestRetract,
             "source_stats": SourceStats}
