"""The three workloads, each one closed-loop iteration of a pipeline
through the program's public entry points, plus its checks.

An iteration runs its stages one after another in this process;
``run.py`` starts the next iteration only when the previous one has
ended. With tracing on, each layer call runs inside a span with its
own Spark job group, and ``mobility_dense`` and ``corpus_curate``
force each layer's output at its boundary so Spark jobs map to
layers (the untraced iteration runs them as one lazy plan).
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import checks
import gen
import tracing

#: the tokenizer stage packs into this many shards of this window
#: size (the corpus holds ~1.3e6 tokens; the CLI default of 256 shards
#: targets corpora orders of magnitude larger)
SEQ_LEN = 1024
NUM_SHARDS = 8
JACCARD = 0.8


@dataclass
class Iteration:
    wall_s: float = 0.0
    cpu_s: float = 0.0
    write_bytes: int = 0
    calls: int = 0
    failures: int = 0
    error: str | None = None
    checks: list = field(default_factory=list)
    truth_share: float = 0.0
    #: layer -> counters read from the outputs or the boundary actions
    counters: dict = field(default_factory=dict)
    #: span of the whole iteration when traced
    span: object = None


class Workload:
    """Shared loop body: clear state, run the stages under spans,
    time them with the process tree's CPU."""

    layers: tuple[str, ...] = ()

    def __init__(self, spark, root: str, work: str, seed: int, tracer) -> None:
        self.spark = spark
        self.root = root
        self.out = os.path.join(work, "out", self.name)
        self.inp, self.truth = gen.materialize(self.name, seed, work)
        self.tracer = tracer

    def reset(self) -> None:
        """Each iteration pays for its own work: no Spark cache, no
        operator cache, no output left by the previous iteration."""
        import polaroam_spark

        self.spark.catalog.clearCache()
        polaroam_spark.unpersist_caches()
        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(self.out)

    def iterate(self, traced: bool, full_checks: bool) -> Iteration:
        self.reset()
        it = Iteration()
        self.tracer.enabled = traced
        cpu0, t0 = tracing.tree_cpu_s(), time.perf_counter()
        with self.tracer.span("pipeline", layer=False) as top:
            try:
                self.stages(it, traced)
            except Exception as e:  # a failed stage call ends the iteration
                it.failures += 1
                it.error = f"{type(e).__name__}: {str(e)[:300]}"
        it.wall_s = time.perf_counter() - t0
        it.cpu_s = tracing.tree_cpu_s() - cpu0
        self.tracer.enabled = False
        it.span = top
        it.write_bytes = tracing.dir_bytes(self.out)
        if not it.failures:
            try:
                self.check(it, traced, full_checks)
            except Exception as e:  # missing or malformed output
                it.checks.append(("outputs_readable", False, f"{type(e).__name__}: {e}"))
        return it

    @staticmethod
    def call(it: Iteration, fn, *args, **kwargs):
        """One call into the program, counted as an attempted
        operation."""
        it.calls += 1
        return fn(*args, **kwargs)

    def cli(self, it: Iteration, layer: str, argv: list[str]) -> None:
        from polaroam_spark.__main__ import main

        with self.tracer.span(layer):
            self.call(it, main, argv)

    def path(self, *parts: str) -> str:
        return os.path.join(self.out, *parts)


class MobilityStaged(Workload):
    """The CLI chain a user runs, each stage reading the previous
    stage's parquet."""

    name = "mobility_staged"
    layers = ("ingest", "stops", "cluster", "label")

    def stages(self, it: Iteration, traced: bool) -> None:
        self.cli(it, "ingest", [
            "ingest", "--input", self.inp, "--output", self.path("pings"),
            "--vendor-columns", "--tz", gen.TZ,
        ])
        self.cli(it, "stops", [
            "stops", "--input", self.path("pings"), "--output", self.path("stops"),
        ])
        self.cli(it, "cluster", [
            "cluster", "--input", self.path("stops", "stop_medians"),
            "--output", self.path("clustered"),
        ])
        self.cli(it, "label", [
            "label", "--input", self.path("clustered"), "--output", self.path("labels"),
            "--total-days", str(self.truth["days"]),
        ])

    def check(self, it: Iteration, traced: bool, full: bool) -> None:
        rows_out = checks.parquet_rows(self.path("pings"))
        c, dropped = checks.check_rows_dropped(self.truth["rows"], rows_out, self.truth)
        it.checks.append(c)
        med = checks.read_table(
            self.path("stops", "stop_medians"), ["uid", "latitude", "longitude"]
        ).to_pandas()
        it.checks.append(
            checks.check_stop_counts(med["uid"].value_counts().to_dict(), self.truth)
        )
        wide = checks.read_table(
            self.path("labels", "home_work_wide"), ["uid", "h_lat", "h_lon", "w_lat", "w_lon"]
        )
        c, it.truth_share = checks.check_hw(checks.wide_from_table(wide), self.truth)
        it.checks.append(c)
        if not traced:
            return
        ev = checks.read_table(self.path("stops", "stop_events"), ["stop_events"])
        stop_pings = int((ev.column("stop_events").to_numpy() != -1).sum())
        w = wide.to_pydict()
        it.counters = {
            "ingest": {
                "rows_out": rows_out,
                "rows_dropped": dropped,
                "files_out": len(checks.parquet_files(self.path("pings"))),
                "write_mb": tracing.dir_bytes(self.path("pings")) / tracing.MB,
            },
            "stops": {
                "rows_out": ev.num_rows,
                "events": len(med),
                "stop_ping_share": stop_pings / max(1, ev.num_rows),
            },
            "cluster": {
                "rows_out": checks.parquet_rows(self.path("clustered")),
                "max_group": _max_group(med),
            },
            "label": {
                "rows_out": checks.parquet_rows(self.path("labels", "labeled")),
                "homes": sum(v is not None for v in w["h_lat"]),
                "works": sum(v is not None for v in w["w_lat"]),
                "hw_match_share": it.truth_share,
            },
        }


def _max_group(medians) -> int:
    """Largest per-user count of unique median coordinates, the
    size of the biggest per-user DBSCAN distance matrix."""
    return int(
        medians.drop_duplicates(["uid", "latitude", "longitude"])["uid"]
        .value_counts()
        .max()
    )


class MobilityDense(Workload):
    """The same pipeline as one in-memory ``HWEstimate`` plan over
    few long, dense users; only the wide table is written."""

    name = "mobility_dense"
    layers = ("stops", "cluster", "label")

    def stages(self, it: Iteration, traced: bool) -> None:
        from pyspark.sql import functions as F

        from polaroam_spark import HWEstimate

        m = HWEstimate(total_days=self.truth["days"], convert_tz=True, tz=gen.TZ)
        pings = self.spark.read.parquet(self.inp)
        c = {}
        with self.tracer.span("stops"):
            events = self.call(it, m.fit_predict, pings)
            medians = self.call(it, m.compute_label_medians)
            if traced:
                events.persist()
                n = dict(
                    events.groupBy((F.col("stop_events") != -1).alias("s"))
                    .count()
                    .collect()
                )
                medians.persist()
                c["stops"] = {
                    "rows_out": n.get(True, 0) + n.get(False, 0),
                    "stop_ping_share": n.get(True, 0) / max(1, sum(n.values())),
                    "events": medians.count(),
                }
        with self.tracer.span("cluster"):
            clustered = self.call(it, m.compute_dbscan)
            if traced:
                clustered.persist()
                c["cluster"] = {"rows_out": clustered.count()}
        with self.tracer.span("label"):
            self.call(it, m.prepare_labeling, clustered)
            self.call(it, m.detect_home)
            labeled = self.call(it, m.detect_work)
            if traced:
                labeled.persist()
                c["label"] = {"rows_out": labeled.count()}
            wide = self.call(it, m.home_work_wide)
            self.call(it, wide.write.parquet, self.path("wide"))
        self._medians = medians
        it.counters = c

    def check(self, it: Iteration, traced: bool, full: bool) -> None:
        wide = checks.read_table(self.path("wide"), ["uid", "h_lat", "h_lon", "w_lat", "w_lon"])
        c, it.truth_share = checks.check_hw(checks.wide_from_table(wide), self.truth)
        it.checks.append(c)
        if traced:
            w = wide.to_pydict()
            med = self._medians.select("uid", "latitude", "longitude").toPandas()
            it.counters["cluster"]["max_group"] = _max_group(med)
            it.counters["label"].update(
                homes=sum(v is not None for v in w["h_lat"]),
                works=sum(v is not None for v in w["w_lat"]),
                hw_match_share=it.truth_share,
            )
        if full:
            # re-runs stop detection: only on the warm-up iteration
            per_user = {
                r["uid"]: r["count"]
                for r in self._medians.groupBy("uid").count().collect()
            }
            it.checks.append(checks.check_stop_counts(per_user, self.truth))


class CorpusCurate(Workload):
    """Near-dedup + Gopher filter through ``cmd_corpus``, then
    packing through ``cmd_tokenize`` with a loaded GPT-2-layout
    vocab."""

    name = "corpus_curate"
    layers = ("dedup", "filter", "pack")

    def __init__(self, *a, **k) -> None:
        super().__init__(*a, **k)
        fx = os.path.join(self.root, "tests", "fixtures", "mini_gpt2")
        self.vocab = os.path.join(fx, "vocab.json")
        self.merges = os.path.join(fx, "merges.txt")
        self._counts: dict[str, int] = {}

    def stages(self, it: Iteration, traced: bool) -> None:
        if traced:
            self._curate_split(it)
        else:
            # one CLI call covers dedup and filter; no span is recorded
            self.cli(it, "dedup", [
                "corpus", "--input", self.inp, "--output", self.path("corpus"),
                "--dedup", "minhash", "--jaccard-threshold", str(JACCARD),
                "--gopher-filter",
            ])
        self.cli(it, "pack", [
            "tokenize", "--input", self.path("corpus"), "--output", self.path("packed"),
            "--mode", "pack", "--vocab", self.vocab, "--merges", self.merges,
            "--seq-len", str(SEQ_LEN), "--num-shards", str(NUM_SHARDS),
        ])

    def _curate_split(self, it: Iteration) -> None:
        """``cmd_corpus --dedup minhash --gopher-filter`` with the
        dedup output forced at its boundary, so the dedup and filter
        layers get their own Spark jobs."""
        from polaroam_spark.operators.dedup import near_dedup_corpus
        from polaroam_spark.operators.textstats import gopher_quality_flags

        docs = self.spark.read.parquet(self.inp)
        with self.tracer.span("dedup"):
            deduped = self.call(
                it, near_dedup_corpus, docs, text_col="text", id_col="doc_id",
                jaccard_threshold=JACCARD,
            )
            n = deduped.persist().count()
        it.counters = {
            "dedup": {"rows_out": n, "removed": self.truth["rows"] - n}
        }
        with self.tracer.span("filter"):
            flagged = self.call(it, gopher_quality_flags, deduped, text_col="text")
            flagged.filter("passes_gopher").select(*deduped.columns).write.mode(
                "overwrite"
            ).parquet(self.path("corpus"))

    def check(self, it: Iteration, traced: bool, full: bool) -> None:
        kept = checks.read_table(self.path("corpus"), ["doc_id", "text"]).to_pydict()
        found, it.truth_share = checks.check_corpus(set(kept["doc_id"]), self.truth)
        it.checks.extend(found)
        packed = checks.read_table(
            self.path("packed"), ["shard", "seq_id", "token_ids", "n_tokens"]
        )
        it.checks.append(
            checks.check_pack(
                packed, set(kept["text"]), SEQ_LEN, NUM_SHARDS, self.vocab,
                self.token_counts,
            )
        )
        if traced:
            it.counters["dedup"]["dup_recall"] = it.truth_share
            it.counters["filter"] = {"rows_out": len(kept["doc_id"])}
            it.counters["pack"] = {"rows_out": packed.num_rows}

    def token_counts(self, texts: list[str]) -> list[int]:
        """Token counts through the program's ``bpe_token_count``,
        kept across iterations (the same documents go missing from
        the windows every time)."""
        new = [t for t in texts if t not in self._counts]
        if new:
            from polaroam_spark.operators.tokenize import bpe_token_count, load_bpe

            df = self.spark.createDataFrame([(t,) for t in new], "text string")
            model = load_bpe(self.vocab, self.merges)
            for r in bpe_token_count(df, model).collect():
                self._counts[r["text"]] = r["n_tokens"]
        return [self._counts[t] for t in texts]

    def pair_count(self) -> int:
        """Verified candidate pairs, counted once per traced run
        outside every timed region."""
        from polaroam_spark.operators.dedup import minhash_lsh_pairs

        docs = self.spark.read.parquet(self.inp)
        return minhash_lsh_pairs(
            docs, "text", "doc_id", jaccard_threshold=JACCARD
        ).count()


WORKLOADS = {w.name: w for w in (MobilityStaged, MobilityDense, CorpusCurate)}
