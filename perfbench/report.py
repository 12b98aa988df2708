"""Metric assembly and the printed report.

Metric names and units come from ``BENCHMARK.json`` at the checkout root,
so the file the driver reads and the numbers printed cannot drift apart.
"""

from __future__ import annotations

import json
from pathlib import Path

from perfbench.measure import median, tail

ROOT = Path(__file__).resolve().parent.parent


def spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def e2e_values(run) -> tuple[dict[str, float], dict[str, str]]:
    """End-to-end values plus a note (sample count, percentile) each."""
    vals, notes = {}, {}
    for kind in ("search", "phrase", "facet"):
        xs = [x * 1000 for x in run.lat.get(kind, [])]
        if not xs:
            continue
        p, v, beyond = tail(xs)
        vals[f"{kind}_p50_ms"] = median(xs)
        notes[f"{kind}_p50_ms"] = f"n={len(xs)}"
        vals[f"{kind}_tail_ms"] = v
        notes[f"{kind}_tail_ms"] = f"p{p:g} of n={len(xs)}, {beyond} beyond"
    if run.batch_wall > 0:
        vals["batch_qps"] = run.batch_queries / run.batch_wall
        notes["batch_qps"] = f"{run.batch_queries} queries in {len(run.lat['batch'])} calls"
    for k in ("setup_s", "build_docs_per_s", "peak_rss_mb"):
        vals[k] = run.values[k]
    return vals, notes


def layer_values(run) -> dict[str, float]:
    out = {k: median(v) for k, v in run.layer.items()}
    out.update(run.values)
    if run.lat.get("phrase"):
        xs = [x * 1000 for x in run.lat["phrase"]]
        out["query.phrase.p50_ms"] = median(xs)
        out["query.phrase.tail_ms"] = tail(xs)[1]
    return out


def _line(tag: str, name: str, value: float, unit: str, note: str = "") -> None:
    print(f"# {tag} {name} = {value:.6g} {unit}" + (f" ({note})" if note else ""), flush=True)


def emit(run, args, info: dict, out_dir: Path) -> dict:
    """Print the report and return the final JSON object."""
    bench = spec()
    e2e, notes = e2e_values(run)
    notes["setup_s"] = (f"get_spark {run.values['session.start_s']:.3f} s, "
                        f"first mapInPandas {run.values['session.warmup_s']:.3f} s")
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    failed = len(run.failures)
    print(f"# perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace}", flush=True)
    print(f"# inputs {json.dumps(info, sort_keys=True)}", flush=True)
    walls = [f"{b[0]} {b[1] - a[1]:.1f}" for a, b in zip(run.phases, run.phases[1:])]
    print(f"# phases (wall s): {', '.join(walls)}", flush=True)
    v = run.values
    print(f"# peak rss (MB): driver {v['proc.driver_rss_peak_mb']:.0f}, jvm "
          f"{v['proc.jvm_rss_peak_mb']:.0f}, python workers {v['proc.pyworker_rss_peak_mb']:.0f} "
          f"(at most {v['proc.max_workers']} processes)", flush=True)
    for kind, xs in run.warm_lat.items():
        print(f"# warm-up {kind} (s): {' '.join(f'{x:.3f}' for x in xs)}", flush=True)
    for kind, xs in run.lat.items():
        print(f"# samples {kind} (s): {' '.join(f'{x:.3f}' for x in xs)}", flush=True)
    for name, v in e2e.items():
        _line("e2e", name, v, units.get(name, "ms"), notes.get(name, ""))
    _line("e2e", "failed_frac", failed / max(1, run.attempted), "ratio",
          f"{failed} of {run.attempted} ops raised or were rejected")
    _line("e2e", "session.cache_entries_leaked",
          run.values["session.cache_entries_leaked"], "count",
          "persistent RDDs left after the benchmark released its index")

    stem = f"{args.workload}-seed{args.seed}"
    saved = {"e2e": e2e, "counts": run.counts, "inputs": info}
    if args.trace:
        layer = layer_values(run)
        for m in bench["per_layer"]:
            if m["name"] in layer:
                _line("layer", m["name"], layer[m["name"]], m["unit"])
            else:
                _line("layer", m["name"], 0, m["unit"], "not in this workload: reported as 0")
        self_s = run.spans.self_times()
        for name, s in sorted(self_s.items(), key=lambda kv: -kv[1]):
            print(f"# span-self {name} = {s:.3f} s", flush=True)
        run.spans.dump(str(out_dir / f"{stem}-spans.json"))
        _overhead(e2e, units, out_dir / f"{stem}-trace0.json")
        _repeat(run.counts, out_dir / f"{stem}-trace1.json")
        saved["layer"] = layer
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0)), "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    with open(out_dir / f"{stem}-trace{args.trace}.json", "w") as f:
        json.dump(saved, f)
    return {"correct": failed == 0, "attempted": run.attempted, "failed": failed,
            "metrics": metrics}


def _overhead(traced: dict, units: dict, untraced_path: Path) -> None:
    """Tracing overhead: this traced run minus the untraced run of the
    same workload and seed, per end-to-end metric."""
    if not untraced_path.exists():
        print("# overhead: no untraced run of this seed recorded; run --trace 0 first", flush=True)
        return
    with open(untraced_path) as f:
        base = json.load(f)["e2e"]
    for name, v in traced.items():
        if name in base and base[name]:
            d = v - base[name]
            print(f"# overhead {name} = {d:+.6g} {units.get(name, 'ms')} "
                  f"({100 * d / base[name]:+.1f}%)", flush=True)


def _repeat(counts: dict, prev_path: Path) -> None:
    """Whether the count metrics of each op equal those of the previous
    traced run of the same workload and seed."""
    if not prev_path.exists():
        print("# counts-repeat: no earlier traced run of this seed to compare", flush=True)
        return
    with open(prev_path) as f:
        prev = json.load(f)["counts"]
    common = sorted(set(prev) & set(counts))
    diffs = [f"{k}: {prev[k]} -> {counts[k]}" for k in common if prev[k] != counts[k]]
    verdict = "yes" if not diffs else "no"
    print(f"# counts-repeat {verdict}: {len(common) - len(diffs)} of {len(common)} ops "
          "have identical jobs/stages/rows/bytes/files", flush=True)
    for d in diffs[:10]:
        print(f"#   differs {d}", flush=True)
