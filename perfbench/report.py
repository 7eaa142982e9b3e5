"""Traced-run tooling: the per-layer self-time table (computed from the span
tree by the JVM side, `Spans.selfTimeByLayer`) and the tracing overhead."""
import json
import os


def layer_table(rows):
    """rows: [{layer, spans, total_ms, self_ms}] from the run's span tree."""
    if not rows:
        return "  (no spans)"
    tot = sum(r["self_ms"] for r in rows) or 1
    lines = [f"  {'layer':12s} {'spans':>7s} {'total_ms':>10s} {'self_ms':>10s} {'self%':>6s}"]
    for r in sorted(rows, key=lambda r: -r["self_ms"]):
        lines.append(f"  {r['layer']:12s} {r['spans']:7d} {r['total_ms']:10d} "
                     f"{r['self_ms']:10d} {100.0 * r['self_ms'] / tot:6.1f}")
    return "\n".join(lines)


def overhead_line(runs_dir, workload, seed, traced_e2e):
    """Traced minus untraced end-to-end numbers, against the untraced run of
    the same workload and seed kept in the runs directory."""
    path = os.path.join(runs_dir, f"{workload}-s{seed}-t0.json")
    if not os.path.isfile(path):
        return "  tracing overhead: no untraced run of this workload and seed on record"
    base = json.load(open(path))["e2e"]
    parts = []
    for k, v in traced_e2e.items():
        if k in base and base[k]["value"]:
            d = v["value"] - base[k]["value"]
            parts.append(f"{k} {d:+.1f} {v['unit']} ({100.0 * d / base[k]['value']:+.1f}%)")
    return "  tracing overhead (traced - untraced): " + ", ".join(parts)
