"""Run parameters of the benchmark's workloads; metric names come from
BENCHMARK.json at the repository root."""
import json
import os

DRIVER_HEAP = "4g"

# scale: input size as a fraction of sf0.1 (600 k lineitems, 100 k events,
# 5 k documents, 100 k claims). jvm: the batch mix is mostly cold-path Spark
# planning and short jobs, where C1-only JIT spares the run C2's compile
# threads; the chain's long-lived micro-batch loop keeps full tiered JIT.
# gates: the repository's correctness gates run over the verification dumps.
WORKLOADS = {
    "labs-operators-batch": {"scale": 0.1, "jvm": ["-XX:TieredStopAtLevel=1"],
                             "gates": ["oracle", "labs"], "gate_reserve_s": 30},
    "chain-stream": {"scale": 0.25, "jvm": [], "gates": [], "gate_reserve_s": 5},
}

# chain-stream's open loop publishes one slice per CHAIN_PERIOD_S, well below
# saturation: a slice costs the anomaly stage a data and a watermark batch of
# about 0.9 s each on 4 idle cores, and result latency turned bimodal at one
# slice per 1.5 s, and per 4 s on a host with 12% CPU steal.
CHAIN_PERIOD_S = 5.0


def chain_plan(seconds, trace):
    """chain-stream's feed as (role, slice count) in publishing order: one
    slice drained by set-up; three untimed warm-up rounds (without them a
    slice's latency fell from about 3.5 s to 2.3 s over the first five slices
    as the JIT warmed, and the median moved with how far it had got); the
    open loop for `seconds`, at least three slices; four closed-loop rounds,
    nine in the traced run, whose rounds alternate untraced and traced."""
    return [("setup", 1), ("warmup", 3), ("open", max(3, round(seconds / CHAIN_PERIOD_S))),
            ("closed", 9 if trace else 4)]


with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")) as _fh:
    _B = json.load(_fh)
RUN_SECONDS = _B["run_seconds"]
E2E_METRICS = [m["name"] for m in _B["end_to_end"]]
TRACE_METRICS = [m["name"] for m in _B["per_layer"]]
