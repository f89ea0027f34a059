#!/usr/bin/env python3
"""Round-over-round bench comparison from two full_rNN.jsonl files.

Usage: python3 tools/bench_delta.py bench/full_r10.jsonl bench/full_latest.jsonl [out.md]

Reads the per-query lines (metric=query) of both runs and emits a
markdown summary: totals on the common-query set (the only
comparable total — round composition changes every round), the
slowest 10 of the new run, the 10 largest regressions/improvements,
and added/removed queries. Writes to stdout or the given path.

This replaces the judge-side join of two jsonl files with a one-file
`git diff`-able artifact committed at snapshot time
(bench/delta_r{N}_vs_r{N-1}.md).
"""
import json
import sys


def load(path):
    queries, total, cal = {}, None, {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            d = json.loads(line)
            if d.get("metric") == "query":
                queries[d["name"]] = d
            elif d.get("metric") == "total":
                total = d
            elif d.get("metric") == "calibration":
                cal[d.get("lane", "main")] = d
    return queries, total, cal


def main():
    old_path, new_path = sys.argv[1], sys.argv[2]
    out_path = sys.argv[3] if len(sys.argv) > 3 else None
    old, old_total, old_cal = load(old_path)
    new, new_total, new_cal = load(new_path)

    # A failed query is recorded with value -1 — not a timing; keep it
    # out of every comparison and call it out instead (deduped: a query
    # failing in BOTH runs is still one callout).
    failed = sorted({q for d in (old, new) for q in d if d[q]["value"] < 0})
    old = {q: d for q, d in old.items() if d["value"] >= 0}
    new = {q: d for q, d in new.items() if d["value"] >= 0}

    common = sorted(set(old) & set(new))
    added = sorted(set(new) - set(old))
    removed = sorted(set(old) - set(new))
    old_common = sum(old[q]["value"] for q in common)
    new_common = sum(new[q]["value"] for q in common)

    lines = []
    lines.append(f"# Bench delta: {new_path} vs {old_path}")
    lines.append("")
    # Provenance header (round-12 judge finding: a delta generated from a
    # mid-round bench under-reported x110 by 0.6s vs the committed final
    # run) — record the exact inputs by content hash so a reader can
    # check this artifact came from the same jsonl committed as the
    # round's bench, not an earlier run.
    import hashlib
    import os
    for label, path in (("old", old_path), ("new", new_path)):
        with open(path, "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()[:16]
        mtime = os.path.getmtime(path)
        import datetime
        stamp = datetime.datetime.fromtimestamp(
            mtime, tz=datetime.timezone.utc).strftime("%Y-%m-%d %H:%M UTC")
        lines.append(f"- generated from {label}: `{path}` sha256:{digest} (mtime {stamp})")
    lines.append("")
    # a partial/aborted run's jsonl may carry no metric=total line
    for label, tot in (("old", old_total), ("new", new_total)):
        if tot is None:
            lines.append(f"- {label} total: — (no total line in the jsonl; partial run?)")
        else:
            lines.append(f"- {label} total: **{tot['value']:.1f}s** over {tot['n']} queries, "
                         f"{tot['failures']} failures")
    ratio = new_common / old_common if old_common else float("nan")
    lines.append(f"- common-query set ({len(common)} queries): "
                 f"**{new_common:.1f}s vs {old_common:.1f}s = {ratio:.2f}x** "
                 f"(the only comparable total; composition changes per round)")
    if added:
        lines.append(f"- added ({len(added)}): " + ", ".join(added))
    if removed:
        lines.append(f"- removed ({len(removed)}): " + ", ".join(removed))
    if failed:
        lines.append(f"- failed in one run, excluded ({len(failed)}): " + ", ".join(failed))
    lines.append("")

    # Host calibration (round-14 board #1): a query-time delta is only a
    # CODE signal when the machine burns match; print them side by side so
    # environment-vs-plans adjudication is one committed number.
    if old_cal or new_cal:
        lines.append("## Host calibration (fixed burns; see Bench.calibrationLine)")
        lines.append("")
        lines.append("| lane | burn | old s | new s | ratio |")
        lines.append("| --- | --- | --- | --- | --- |")
        for lane in sorted(set(old_cal) | set(new_cal)):
            for burn in ("md5_1core_sec", "md5_par_sec", "shuffle_20m_sec"):
                o = old_cal.get(lane, {}).get(burn)
                n = new_cal.get(lane, {}).get(burn)
                ratio = f"{n / o:.2f}x" if o and n else "—"
                o_s = f"{o:.2f}" if o is not None else "—"
                n_s = f"{n:.2f}" if n is not None else "—"
                lines.append(f"| {lane} | {burn[:-4]} | {o_s} | {n_s} | {ratio} |")
        lines.append("")
    else:
        lines.append("- no calibration lines in either jsonl "
                     "(pre-r15 bench)")
        lines.append("")

    lines.append("## Slowest 10 (new run)")
    lines.append("")
    lines.append("| query | new s | old s | delta |")
    lines.append("| --- | --- | --- | --- |")
    for q in sorted(new, key=lambda q: -new[q]["value"])[:10]:
        o = old.get(q)
        old_s = f"{o['value']:.2f}" if o else "—"
        delta = f"{new[q]['value'] - o['value']:+.2f}" if o else "new"
        lines.append(f"| {q} | {new[q]['value']:.2f} | {old_s} | {delta} |")
    lines.append("")

    deltas = [(new[q]["value"] - old[q]["value"], q) for q in common]
    deltas.sort(reverse=True)

    # A row is only flagged **outside spread** when the two runs'
    # calibration burns actually match (r15 verdict board #7): on a
    # mismatched host the right reading is "environment", and the row is
    # annotated as such instead of adjudicated narratively each round.
    def cal_matched():
        lanes = set(old_cal) & set(new_cal)
        if not lanes:
            return False, "no shared calibration lanes"
        worst = 1.0
        for lane in lanes:
            for burn in ("md5_1core_sec", "md5_par_sec", "shuffle_20m_sec"):
                o, n = old_cal[lane].get(burn), new_cal[lane].get(burn)
                if o and n:
                    worst = max(worst, n / o, o / n)
        return worst <= 1.3, f"worst burn ratio {worst:.2f}x"
    matched, cal_note = cal_matched()

    def spread_note(q):
        """Flag deltas inside the query's own min/max spread as noise."""
        o, n = old[q], new[q]
        overlap = n["min"] <= o["max"] and o["min"] <= n["max"]
        if overlap:
            return "within spread"
        if not matched:
            return f"outside spread (calibration mismatch: {cal_note} - host, not plan)"
        rr = " (rerun-gated)" if n.get("rerun") or o.get("rerun") else ""
        return f"**outside spread**{rr}"

    lines.append("## Largest regressions (common queries)")
    lines.append("")
    lines.append("| query | old s | new s | delta | min/max overlap |")
    lines.append("| --- | --- | --- | --- | --- |")
    for d, q in deltas[:10]:
        if d <= 0:
            break
        lines.append(f"| {q} | {old[q]['value']:.2f} | {new[q]['value']:.2f} | "
                     f"+{d:.2f} | {spread_note(q)} |")
    lines.append("")
    lines.append("## Largest improvements (common queries)")
    lines.append("")
    lines.append("| query | old s | new s | delta | min/max overlap |")
    lines.append("| --- | --- | --- | --- | --- |")
    for d, q in deltas[::-1][:10]:
        if d >= 0:
            break
        lines.append(f"| {q} | {old[q]['value']:.2f} | {new[q]['value']:.2f} | "
                     f"{d:.2f} | {spread_note(q)} |")
    lines.append("")

    text = "\n".join(lines) + "\n"
    if out_path:
        with open(out_path, "w") as f:
            f.write(text)
        print(f"wrote {out_path}")
    else:
        print(text)


if __name__ == "__main__":
    main()
