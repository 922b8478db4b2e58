"""Turn a run's pass timings and traced spans into the reported metrics.

The metric names and units here are the ones ``BENCHMARK.json`` lists;
``perfbench/tests/test_report.py`` keeps the two in step.
"""

from __future__ import annotations

import numpy as np

from perfbench.stats import median

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "items_per_s": "1/s",
}

PER_LAYER = {
    "session.get_spark.call_s": "s",
    "sources.scan.input_mb": "MB",
    "sources.synth_tokens.force_s": "s",
    "operators.asof_join.call_s": "s",
    "operators.asof_join.call_jobs": "count",
    "operators.asof_join.force_s": "s",
    "operators.asof_join.shuffle_mb": "MB",
    "operators.windowed_encode.task_s": "s",
    "operators.windowed_encode.py_wait_s": "s",
    "operators.windowed_encode.max_task_s": "s",
    "encoder.forward.win_per_s": "1/s",
    "encoder.vae_small_forward.win_per_s": "1/s",
    "encoder.kernel_share": "ratio",
    "functions.cyclical_datetime_features.force_s": "s",
    "plans.curate_tokens.call_s": "s",
    "plans.curate_tokens.call_jobs": "count",
    "plans.curate_tokens.action_s": "s",
    "plans.curate_tokens.funnel_input": "count",
    "plans.curate_tokens.funnel_near_dup_dedup": "count",
    "plans.curate_tokens.funnel_token_filters": "count",
    "plans.curate_tokens.funnel_chunking": "count",
    "plans.curate_tokens.funnel_output": "count",
    "plans.curate_tokens.near_dup_pairs": "count",
    "operators.packing.force_s": "s",
    "streaming.ingest_batch.jobs_per_batch": "count",
    "streaming.ingest_batch.write_mb": "MB",
    "streaming.ingest_batch.index_read_mb": "MB",
    "streaming.ingest_batch.py_wait_s": "s",
    "all.tasks": "count",
    "all.failed_tasks": "count",
    "all.spill_mb": "MB",
    "all.gc_s": "s",
    "all.driver_gap_s": "s",
    "trace.overhead_s": "s",
}


def jsonable(obj):
    if isinstance(obj, dict):
        return {k: jsonable(v) for k, v in obj.items() if not isinstance(v, np.ndarray)}
    if isinstance(obj, (list, tuple)):
        return [jsonable(v) for v in obj]
    return obj


def _metric(name: str, value: float, units: dict) -> dict:
    return {"value": float(value), "unit": units[name]}


def end_to_end(res: dict, setup_s: float) -> dict:
    plain = res["plain"]
    vals = {
        "setup_s": setup_s,
        "wall_s": median(plain),
        "items_per_s": res["items"] / sum(plain),
    }
    return {k: _metric(k, v, END_TO_END) for k, v in vals.items()}


def per_layer(wl, res: dict, session_s: float) -> dict:
    """Per-layer figures: medians over the traced passes, then the
    single-call probes and, for each layer function the workload does not
    reach (as-of and window operators, plans, packing, streaming), a
    probe-size run of the workload that does."""
    from perfbench import workloads as W
    from feature_extractor_spark.encoder import (
        encoder_forward,
        init_vae_small,
        init_weights,
        vae_small_forward,
    )

    ledger = wl.ledger
    roots = res["roots"]
    per_pass = [ledger.stats(r) for r in roots]
    vals = {k: 0.0 for k in PER_LAYER}
    vals.update({
        "session.get_spark.call_s": session_s,
        "sources.scan.input_mb": median([s.input_mb for s in per_pass]),
        "all.tasks": median([s.tasks for s in per_pass]),
        "all.failed_tasks": float(sum(s.failed_tasks for s in per_pass)),
        "all.spill_mb": median([s.spill_mb for s in per_pass]),
        "all.gc_s": median([s.gc_s for s in per_pass]),
        "all.driver_gap_s": median([ledger.driver_gap_s(r) for r in roots]),
        "trace.overhead_s": median(res["traced"]) - median(res["plain"]),
    })
    layer = wl.layer_metrics(roots)
    kernel_task_s = layer.pop("_kernel_task_s", 0.0)
    windows = layer.pop("_windows", 0.0)
    vals.update(layer)

    ledger.enabled = True
    ledger.pass_id = None
    vals.update(wl.probes())
    for cls in (W.PitEncode, W.CurateTokens, W.StreamIngest):
        if not isinstance(wl, cls):
            vals.update(W.probe_layers(wl, cls))
    from feature_extractor_spark.sources.tokens import synth_tokens

    with ledger.span("sources.synth_tokens.force") as sp:
        W._force(synth_tokens(wl.spark, n_rows=5000, n_docs=50))
    vals["sources.synth_tokens.force_s"] = sp.wall_s
    ledger.enabled = False

    fwd = W.encoder_win_per_s(
        encoder_forward,
        init_weights(window_size=16, n_features=2, rnn_hidden_dim=4,
                     conditioning_dim=10, latent_dim=16),
        16, 2, batch=128, min_s=0.5,
    )
    vae = W.encoder_win_per_s(
        vae_small_forward,
        init_vae_small(window_size=144, n_features=54, rnn_hidden_dim=4,
                       conditioning_dim=10, latent_dim=32),
        144, 54, batch=32, min_s=1.0,
    )
    vals["encoder.forward.win_per_s"] = fwd
    vals["encoder.vae_small_forward.win_per_s"] = vae
    rate = {"pit_encode": fwd, "parity_w144": vae}.get(wl.name)
    if rate and kernel_task_s > 0:
        vals["encoder.kernel_share"] = (windows / rate) / kernel_task_s
    return {k: _metric(k, v, PER_LAYER) for k, v in vals.items()}

