"""The benchmark's workloads: set-up, one timed pass, output checks, and
the per-layer figures a traced pass yields.

Every workload calls the engine only through its public functions and
hands it only the tables ``perfbench.gen`` made from the seed. A pass is
one complete run from input to result (for ``stream_ingest``, one
micro-batch). Checks that need extra Spark work run once, after the timed
window.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import Observation
from pyspark.sql import functions as F

from perfbench import gen
from perfbench.ledger import Ledger, Span, StageStats, combine
from perfbench.stats import median

# Input sizes per scale. "full" is what BENCHMARK.json measures; "tiny"
# is the smoke-test size.
SIZES = {
    "pit_encode": {"full": dict(n_rows=20_000, n_users=300), "tiny": dict(n_rows=6_000, n_users=300)},
    "parity_w144": {"full": dict(n_rows=400), "tiny": dict(n_rows=160)},
    "curate_tokens": {"full": dict(n_rows=4_000), "tiny": dict(n_rows=600)},
    "stream_ingest": {"full": dict(batch_size=50, n_batches=24), "tiny": dict(batch_size=20, n_batches=4)},
}

# bench.py's curate_tokens arguments
CURATE_ARGS = dict(
    context_len=2048, min_tok=8, near_dup_threshold=0.9,
    chunk_max_len=48, chunk_overlap=8, eos_id=50256,
)


class CheckFailed(Exception):
    """An output of the engine disagrees with the benchmark's oracle."""


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _write_parquet(pdf: pd.DataFrame, path: str) -> None:
    pdf.to_parquet(path, index=False, coerce_timestamps="us")


def cyclical_np(ts: pd.Series) -> np.ndarray:
    """The 10 cyclical datetime features (hour/24, weekday/7 with
    Monday=0, day/31, month/12, day-of-year/366; sin then cos of each),
    restated from their definition as the check's independent oracle."""
    dt = pd.DatetimeIndex(ts)
    cols = []
    for vals, period in ((dt.hour, 24.0), (dt.weekday, 7.0), (dt.day, 31.0),
                         (dt.month, 12.0), (dt.dayofyear, 366.0)):
        ang = 2 * np.pi * np.asarray(vals, dtype=np.float64) / period
        cols += [np.sin(ang), np.cos(ang)]
    return np.stack(cols, axis=1).astype(np.float32)


def encoder_win_per_s(forward, weights, W: int, n_feat: int, batch: int, min_s: float) -> float:
    """Single-thread windows/s of ``forward`` at one shape: repeated
    batches until ``min_s`` elapsed, after one untimed batch."""
    rng = np.random.default_rng(0)
    x = rng.standard_normal((batch, W, n_feat)).astype(np.float32)
    h = np.zeros((batch, 4), np.float32)
    c = rng.standard_normal((batch, 10)).astype(np.float32)
    forward(x, h, c, weights)
    n, t0 = 0, time.perf_counter()
    while True:
        forward(x, h, c, weights)
        n += batch
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return n / dt


class Workload:
    name = ""
    unit = ""  # what one item of throughput is

    def __init__(self, spark, ledger: Ledger, work_dir: str, seed: int, scale: str):
        self.spark = spark
        self.ledger = ledger
        self.work_dir = work_dir
        self.seed = seed
        self.size = SIZES[self.name][scale]
        self.input_dir = os.path.join(work_dir, "input")
        os.makedirs(self.input_dir, exist_ok=True)

    def generate(self) -> gen.Generated:
        raise NotImplementedError

    def load(self, g: gen.Generated) -> None:
        """Hand the generated tables to Spark (set-up, untimed per pass)."""
        raise NotImplementedError

    def warm(self) -> None:
        """Cold passes before the timed window: JIT, Python workers."""
        self.run_pass()
        self.reset()

    def run_pass(self) -> int:
        """One timed pass; returns the items it completed."""
        raise NotImplementedError

    def reset(self) -> None:
        """Release what a pass left cached, outside the timed region, so
        passes are independent."""
        self.spark.catalog.clearCache()

    def final_checks(self) -> None:
        """Output checks that need extra Spark work (after timing)."""

    def layer_metrics(self, passes: list[Span]) -> dict[str, float]:
        """Workload-specific per-layer figures from traced pass spans."""
        return {}

    def probes(self) -> dict[str, float]:
        """Traced-run-only measurements of single layer calls on this
        workload's input: the cyclical datetime features over its ts
        column, where it has one."""
        from feature_extractor_spark.functions.conditions import cyclical_datetime_features

        ts_table = getattr(self, "ts_table", None)
        if ts_table is None:
            return {}
        with self.ledger.span("functions.cyclical_datetime_features.force") as sp:
            _force(cyclical_datetime_features(ts_table))
        return {"functions.cyclical_datetime_features.force_s": sp.wall_s}

    def _child(self, root: Span, name: str) -> Span:
        for sp in self.ledger.subtree(root):
            if sp.name == name:
                return sp
        raise KeyError(name)

    def _result_stage_stats(self, span: Span) -> StageStats:
        """Stats of the last stage an action ran: the stage that holds the
        final Python operator and the write."""
        return combine(span.stages[-1:])


class PitEncode(Workload):
    """Seeded events -> as-of join (LOCF of the last purchase, skew-adaptive
    ``strategy="auto"``) -> fused W=16 windows + encoder forward."""

    name = "pit_encode"
    unit = "sequences"
    layers = ("operators.asof_join.", "operators.windowed_encode.")
    W = 16

    def generate(self):
        return gen.events(self.seed, **self.size)

    def load(self, g):
        from feature_extractor_spark.encoder import init_weights
        from feature_extractor_spark.operators.skew import detect_heavy_hitters

        self.pdf = g.tables["events"]
        self.truth = g.truth
        path = os.path.join(self.input_dir, "events.parquet")
        _write_parquet(self.pdf, path)
        ev = self.spark.read.parquet(path).select(
            F.col("user_id").alias("doc_id"), "ts", "value", "event_type"
        )
        self.ts_table = ev
        self.left = ev.select("doc_id", "ts", "value")
        self.right = ev.filter(F.col("event_type") == "purchase").select(
            "doc_id", "ts", F.col("value").alias("last_purchase_value")
        )
        self.weights = init_weights(
            window_size=self.W, n_features=2, rnn_hidden_dim=4,
            conditioning_dim=10, latent_dim=16,
        )
        with self.ledger.span("operators.detect_heavy_hitters"):
            self.heavy = sorted(detect_heavy_hitters(ev, "doc_id", threshold_share=0.02))
        if self.heavy != self.truth["heavy_users"]:
            raise CheckFailed(
                f"detect_heavy_hitters found {self.heavy}, planted {self.truth['heavy_users']}"
            )
        n_e = self.pdf.groupby("user_id").size().to_numpy()
        self.expected = int(np.maximum(0, n_e - self.W + 1).sum())

    def _pipeline(self, left, right):
        from feature_extractor_spark.operators.asof import asof_join
        from feature_extractor_spark.operators.fused import windowed_encode

        with self.ledger.span("operators.asof_join"):
            joined = asof_join(
                left, right, on="ts", by="doc_id", strategy="auto",
                heavy_keys=self.heavy,
            ).na.fill({"last_purchase_value": 0.0})
        with self.ledger.span("operators.windowed_encode"):
            z = windowed_encode(
                joined, "doc_id", "ts", ["value", "last_purchase_value"], None,
                self.W, self.weights, heavy_keys=self.heavy,
            )
        return joined, z

    def warm(self):
        # the pass is dominated by per-job and planning work, which keeps
        # getting faster for several passes (JIT, Python workers): three
        # cheap passes over 30 users' rows, then one full pass
        users = F.col("doc_id").isin(sorted(set(self.pdf["user_id"]))[:30])
        for _ in range(3):
            _force(self._pipeline(self.left.filter(users), self.right.filter(users))[1])
        super().warm()

    def run_pass(self):
        _, z = self._pipeline(self.left, self.right)
        obs = Observation("pit_encode")
        z = z.observe(obs, F.count(F.lit(1)).alias("n"))
        with self.ledger.span("force"):
            _force(z)
        n = int(obs.get["n"])
        if n != self.expected:
            raise CheckFailed(f"pit_encode: {n} sequences, expected {self.expected}")
        return n

    def final_checks(self):
        from feature_extractor_spark.encoder import encoder_forward

        rng = np.random.default_rng(self.seed + 1)
        light = sorted(set(self.pdf["user_id"]) - set(self.heavy))
        sample = self.heavy[:2] + sorted(rng.choice(light, 6, replace=False).tolist())
        left = self.left.filter(F.col("doc_id").isin(sample))
        right = self.right.filter(F.col("doc_id").isin(sample))
        joined, z = self._pipeline(left, right)
        got_j = joined.toPandas().sort_values(["doc_id", "ts"]).reset_index(drop=True)
        got_z = z.toPandas().sort_values(["doc_id", "ts"]).reset_index(drop=True)

        # pandas as-of oracle: last purchase at or before each row
        ev = self.pdf[self.pdf["user_id"].isin(sample)].rename(columns={"user_id": "doc_id"})
        ev = ev.sort_values("ts")
        buys = ev[ev["event_type"] == "purchase"][["doc_id", "ts", "value"]].rename(
            columns={"value": "lpv", "ts": "buy_ts"}
        )
        want = pd.merge_asof(
            ev[["doc_id", "ts", "value"]], buys, left_on="ts", right_on="buy_ts",
            by="doc_id", direction="backward",
        ).sort_values(["doc_id", "ts"]).reset_index(drop=True)
        if len(got_j) != len(want) or not (
            (got_j["doc_id"].to_numpy() == want["doc_id"].to_numpy()).all()
            and (got_j["ts"].to_numpy() == want["ts"].to_numpy()).all()
        ):
            raise CheckFailed("pit_encode: as-of output rows differ from the pandas oracle")
        if not np.array_equal(got_j["last_purchase_value"].to_numpy(),
                              want["lpv"].fillna(0.0).to_numpy()):
            raise CheckFailed("pit_encode: as-of value differs from the last purchase at or before the row")

        # latents: encoder_forward on NumPy windows built from raw rows
        exp_rows, exp_z = [], []
        for doc, g in want.groupby("doc_id", sort=True):
            feats = np.stack([g["value"].to_numpy(), g["lpv"].fillna(0.0).to_numpy()], 1).astype(np.float32)
            if len(g) < self.W:
                continue
            wins = np.lib.stride_tricks.sliding_window_view(feats, self.W, axis=0)
            wins = np.ascontiguousarray(np.swapaxes(wins, 1, 2))
            ts = g["ts"].iloc[self.W - 1:]
            cond = cyclical_np(ts)
            exp_z.append(encoder_forward(wins, np.zeros((len(wins), 4), np.float32), cond, self.weights))
            exp_rows.append(pd.DataFrame({"doc_id": doc, "ts": ts.to_numpy()}))
        exp_rows = pd.concat(exp_rows).reset_index(drop=True)
        if len(got_z) != len(exp_rows) or not (got_z["ts"].to_numpy() == exp_rows["ts"].to_numpy()).all():
            raise CheckFailed("pit_encode: sampled windows differ from the oracle's")
        if not np.allclose(np.stack(got_z["z_mean"].to_numpy()), np.concatenate(exp_z),
                           rtol=1e-4, atol=1e-5):
            raise CheckFailed("pit_encode: sampled latents are not allclose to encoder_forward")

    def layer_metrics(self, passes):
        out: dict[str, list[float]] = {}
        for root in passes:
            aj = self._child(root, "operators.asof_join")
            we = self._result_stage_stats(self._child(root, "force"))
            vals = {
                "operators.asof_join.call_s": aj.wall_s,
                "operators.asof_join.call_jobs": float(aj.jobs),
                "operators.windowed_encode.task_s": we.run_s,
                "operators.windowed_encode.py_wait_s": we.py_wait_s,
                "operators.windowed_encode.max_task_s": we.max_task_s,
                "_kernel_task_s": we.run_s,
                "_windows": float(self.expected),
            }
            for k, v in vals.items():
                out.setdefault(k, []).append(v)
        return {k: median(v) for k, v in out.items()}

    def probes(self):
        joined, _ = self._pipeline(self.left, self.right)
        with self.ledger.span("operators.asof_join.force") as sp:
            _force(joined)
        st = self.ledger.stats(sp)
        return {
            **super().probes(),
            "operators.asof_join.force_s": sp.wall_s,
            "operators.asof_join.shuffle_mb": st.shuffle_write_mb,
        }


class ParityW144(Workload):
    """The reference's phase-4.2 evaluation shape on one shortened series:
    W=144 windows of 54 features -> 10 cyclical conditions -> vae_small
    (latent 32)."""

    name = "parity_w144"
    unit = "sequences"
    W = 144
    N_FEAT = 54

    def generate(self):
        return gen.series(self.seed, **self.size)

    def load(self, g):
        from feature_extractor_spark.encoder import init_vae_small

        self.pdf = g.tables["series"]
        path = os.path.join(self.input_dir, "series.parquet")
        _write_parquet(self.pdf, path)
        self.src = self.ts_table = self.spark.read.parquet(path)
        self.weights = init_vae_small(
            window_size=self.W, n_features=self.N_FEAT, rnn_hidden_dim=4,
            conditioning_dim=10, latent_dim=32,
        )
        self.expected = max(0, len(self.pdf) - self.W + 1)

    def _pipeline(self):
        from feature_extractor_spark.encoder import encode_stage
        from feature_extractor_spark.functions.conditions import (
            cyclical_datetime_features,
            zero_context,
        )
        from feature_extractor_spark.operators.windows import sliding_windows

        with self.ledger.span("operators.sliding_windows"):
            win = sliding_windows(self.src, "doc_id", "ts", ["f"], self.W)
            win = win.withColumn("window", F.flatten("window"))
        with self.ledger.span("functions.cyclical_datetime_features"):
            win = zero_context(cyclical_datetime_features(win), 4)
        cond = [c for c in win.columns if c.startswith(("sin_", "cos_"))]
        with self.ledger.span("encoder.encode_stage"):
            return encode_stage(
                win, self.weights, cond_cols=cond, keep_cols=["doc_id", "ts"],
                plugin="vae_small",
            )

    def warm(self):
        # the first pass after one cold pass still ran ~25% slow
        super().warm()
        super().warm()

    def run_pass(self):
        obs = Observation("parity_w144")
        z = self._pipeline().observe(obs, F.count(F.lit(1)).alias("n"))
        with self.ledger.span("force"):
            _force(z)
        n = int(obs.get["n"])
        if n != self.expected:
            raise CheckFailed(f"parity_w144: {n} sequences, expected {self.expected}")
        return n

    def final_checks(self):
        from feature_extractor_spark.encoder import vae_small_forward

        rng = np.random.default_rng(self.seed + 1)
        ends = np.sort(rng.choice(np.arange(self.W - 1, len(self.pdf)), 6, replace=False))
        ts = self.pdf["ts"].to_numpy()[ends]
        got = (
            self._pipeline().filter(F.col("ts").isin([pd.Timestamp(t).to_pydatetime() for t in ts]))
            .toPandas().sort_values("ts").reset_index(drop=True)
        )
        if len(got) != len(ends):
            raise CheckFailed(f"parity_w144: {len(got)} of {len(ends)} sampled windows came back")
        f = np.stack(self.pdf["f"].to_numpy())
        x = np.stack([f[e - self.W + 1: e + 1] for e in ends])
        want = vae_small_forward(x, np.zeros((len(ends), 4), np.float32),
                                 cyclical_np(pd.Series(ts)), self.weights)
        if not np.allclose(np.stack(got["z_mean"].to_numpy()), want, rtol=1e-4, atol=1e-5):
            raise CheckFailed("parity_w144: sampled latents are not allclose to vae_small_forward")

    def layer_metrics(self, passes):
        task_s = [self._result_stage_stats(self._child(r, "force")).run_s for r in passes]
        return {"_kernel_task_s": median(task_s), "_windows": float(self.expected)}


class CurateTokens(Workload):
    """Seeded token sequences with planted duplicates -> ``curate_tokens``
    (exact dedup, LSH near-dup + connected components, filters, chunking,
    EOS, shuffle, packing) with the funnel counters on."""

    name = "curate_tokens"
    unit = "input tokens"
    layers = ("plans.", "operators.packing.")

    def generate(self):
        return gen.token_corpus(self.seed, **self.size)

    def load(self, g):
        self.pdf = g.tables["tokens"]
        self.truth = g.truth
        path = os.path.join(self.input_dir, "tokens.parquet")
        _write_parquet(self.pdf, path)
        self.tok = self.ts_table = self.spark.read.parquet(path)
        self.n_tokens = int(self.pdf["n_tok"].sum())
        chunks, toks = gen.chunk_count(
            self.truth["kept_lens"], CURATE_ARGS["chunk_max_len"],
            CURATE_ARGS["chunk_overlap"], CURATE_ARGS["min_tok"],
        )
        self.expected = {
            "input": self.truth["n_input"],
            "near_dup_dedup": self.truth["after_dedup"],
            "token_filters": self.truth["after_filters"],
            "chunking": chunks,
            "output": chunks,
        }
        self.expected_tokens = toks + chunks  # one EOS per chunk
        self.funnel: dict = {}

    def run_pass(self):
        from feature_extractor_spark.plans.tokens_pipeline import (
            curate_tokens,
            resolve_stage_counts,
        )

        stage_counts: dict = {}
        with self.ledger.span("plans.curate_tokens"):
            out = curate_tokens(self.tok, stage_counts=stage_counts, **CURATE_ARGS)
        obs = Observation("curate_tokens")
        out = out.observe(obs, F.count(F.lit(1)).alias("rows"),
                          F.sum("n_tok").alias("toks"))
        with self.ledger.span("force"):
            _force(out)
        rows, toks = int(obs.get["rows"]), int(obs.get["toks"] or 0)
        self.funnel = resolve_stage_counts(stage_counts)
        if rows != self.expected["output"] or toks != self.expected_tokens:
            raise CheckFailed(
                f"curate_tokens: packed {rows} rows / {toks} tokens, expected "
                f"{self.expected['output']} / {self.expected_tokens}"
            )
        if self.funnel.get("near_dup_pairs") != self.truth["near_dup_pairs"]:
            raise CheckFailed(
                f"curate_tokens: {self.funnel.get('near_dup_pairs')} near-dup pairs, "
                f"planted {self.truth['near_dup_pairs']}"
            )
        for stage, want in self.expected.items():
            # funnel stages are HLL estimates (relative sd 1%): 4 sd
            if abs(self.funnel[stage] - want) > max(2, 0.04 * want):
                raise CheckFailed(
                    f"curate_tokens: funnel {stage}={self.funnel[stage]}, expected ~{want}"
                )
        return self.n_tokens

    def layer_metrics(self, passes):
        out: dict[str, list[float]] = {}
        for root in passes:
            call = self._child(root, "plans.curate_tokens")
            vals = {
                "plans.curate_tokens.call_s": call.wall_s,
                "plans.curate_tokens.call_jobs": float(call.jobs),
                "plans.curate_tokens.action_s": self._child(root, "force").wall_s,
            }
            for k, v in vals.items():
                out.setdefault(k, []).append(v)
        res = {k: median(v) for k, v in out.items()}
        for stage in ("input", "near_dup_dedup", "token_filters", "chunking", "output"):
            res[f"plans.curate_tokens.funnel_{stage}"] = float(self.funnel[stage])
        res["plans.curate_tokens.near_dup_pairs"] = float(self.funnel["near_dup_pairs"])
        return res

    def probes(self):
        from feature_extractor_spark.operators.packing import append_eos, pack_sequences

        df = append_eos(self.tok.withColumn("seq_id", F.xxhash64("doc_id", "ts")), "tokens", 50256)
        with self.ledger.span("operators.packing.force") as sp:
            _force(pack_sequences(df, order_col="seq_id", context_len=2048))
        return {**super().probes(), "operators.packing.force_s": sp.wall_s}


class StreamIngest(Workload):
    """Closed-loop micro-batches through ``ingest_batch``: each batch starts
    when the previous one has finished, as ``foreachBatch`` runs them,
    against an index that grows with every accepted batch."""

    name = "stream_ingest"
    unit = "docs"
    layers = ("streaming.",)

    def generate(self):
        return gen.stream_batches(self.seed, **self.size)

    def load(self, g):
        self.truth = g.truth["batches"]
        self.batches = [
            self.spark.createDataFrame(g.tables[f"batch_{b:03d}"])
            for b in range(len(self.truth))
        ]
        self.next_batch = 0
        self._dirs("run")

    def _dirs(self, tag: str) -> None:
        base = os.path.join(self.work_dir, f"stream_{tag}")
        shutil.rmtree(base, ignore_errors=True)
        self.index_dir = os.path.join(base, "index")
        self.accepted_dir = os.path.join(base, "accepted")
        self.stats_dir = os.path.join(base, "stats")

    def warm(self):
        # two cold batches (first batch: no index yet; second: index path)
        # into a throw-away index, then start the timed sequence afresh
        self._dirs("warm")
        for _ in range(2):
            self.run_pass()
        self.reset()
        self.next_batch = 0
        self._dirs("run")

    def run_pass(self):
        from feature_extractor_spark.streaming import ingest_batch

        b = self.next_batch
        if b >= len(self.batches):
            raise CheckFailed("stream_ingest: ran out of generated batches")
        with self.ledger.span("streaming.ingest_batch"):
            ingest_batch(
                self.batches[b], b, self.index_dir, self.accepted_dir,
                stats_dir=self.stats_dir,
            )
        self.next_batch += 1
        return int(self.truth[b]["n_input"])

    def reset(self):
        super().reset()
        # per-batch funnel check, outside the timed region
        b = self.next_batch - 1
        if b < 0:
            return
        row = (
            self.spark.read.parquet(self.stats_dir).filter(F.col("batch_id") == b)
            .collect()
        )
        if len(row) != 1:
            raise CheckFailed(f"stream_ingest: batch {b} has {len(row)} stats rows")
        r, want = row[0], self.truth[b]
        if r["n_accepted"] + r["n_within_dup"] + r["n_index_dup"] != r["n_input"]:
            raise CheckFailed(f"stream_ingest: batch {b} funnel does not add up: {r}")
        for k in ("n_input", "n_within_dup", "n_index_dup"):
            if r[k] != want[k]:
                raise CheckFailed(f"stream_ingest: batch {b} {k}={r[k]}, planted {want[k]}")

    def final_checks(self):
        acc = self.spark.read.parquet(self.accepted_dir).select("doc_id").toPandas()
        if acc["doc_id"].duplicated().any():
            raise CheckFailed("stream_ingest: an id was accepted twice")
        cross = {i for t in self.truth[: self.next_batch] for i in t["cross_ids"]}
        leaked = cross & set(acc["doc_id"])
        if leaked:
            raise CheckFailed(f"stream_ingest: planted cross-batch duplicates accepted: {sorted(leaked)[:5]}")

    def layer_metrics(self, passes):
        out: dict[str, list[float]] = {}
        for root in passes:
            call = self._child(root, "streaming.ingest_batch")
            st = self.ledger.stats(call)
            vals = {
                "streaming.ingest_batch.jobs_per_batch": float(self.ledger.jobs(call)),
                "streaming.ingest_batch.write_mb": st.output_mb,
                "streaming.ingest_batch.index_read_mb": st.input_mb,
                "streaming.ingest_batch.py_wait_s": st.py_wait_s,
            }
            for k, v in vals.items():
                out.setdefault(k, []).append(v)
        return {k: median(v) for k, v in out.items()}


WORKLOADS = {w.name: w for w in (PitEncode, ParityW144, CurateTokens, StreamIngest)}


def probe_layers(wl: Workload, cls: type[Workload]) -> dict[str, float]:
    """Per-layer figures of ``cls``'s layers (``cls.layers``) for a traced
    run of a workload that does not reach them: two traced passes of
    ``cls`` at its smoke-test size (cold passes, no warm-up), figures from
    the second one."""
    probe = cls(wl.spark, wl.ledger, os.path.join(wl.work_dir, f"probe_{cls.name}"),
                wl.seed, "tiny")
    probe.load(probe.generate())
    roots = []
    for _ in range(2):
        with wl.ledger.span(f"{cls.name}.probe_pass") as root:
            probe.run_pass()
        probe.reset()
        roots.append(root)
    vals = {**probe.layer_metrics(roots[-1:]), **probe.probes()}
    return {k: v for k, v in vals.items() if k.startswith(cls.layers)}
