#!/usr/bin/env python3
"""Per-query perf-regression gate (VERDICT r10 item 6).

Diffs a round's bench artifact against the prior round's SAME-BOX
artifact and fails loudly when any of the top-20 isolated queries
regressed by more than the threshold (default +30%) without a waiver.

    python3 tools/benchguard.py CURRENT PRIOR [--threshold 0.30]

CURRENT/PRIOR accept either a raw `graft.Bench` output line (the
`target/bench.json` file twin) or a driver `BENCH_r{N}.json` wrapper —
for wrappers the per-query isolated samples are regex-recovered from
the stdout tail, which survives the driver's front-truncation because
each `"name":{"sec":...}` entry is self-contained.

Rules:
  - only ISOLATED samples are compared (full-run/steady times swing
    ~2x with ambient load on this box — BASELINE.md round-2 notes);
  - a sample stamped `contended: true` on either side is skipped (the
    stamp exists precisely so load spikes don't read as plan
    regressions);
  - a regression is waived iff BASELINE.md contains the literal marker
    `benchguard-ok: <query>` — i.e. a human wrote down WHY the cost
    moved. Silent regressions fail the gate; documented ones pass.

Normalization (round 19, VERDICT r18 next #4 — replacing the round-14
both-probes rule): the two synthetic probes were VALIDATED against a
fixed-work reference and failed. Between the r17 and r18 artifacts the
CPU probe read 2.94x slower (0.142 -> 0.416) while the stage-latency
probe read 2.75x FASTER (4.64 -> 1.69) — they disagreed about
direction — yet the plan-unchanged registry queries (pagerank,
jaccard, incremental, editdist_e2e, bpe, labelprop, pca, ...) moved at
most ~10%: best-of-N isolated samples are already essentially
drift-free on this box, and neither probe tracks the work the gate
actually judges (BASELINE.md round-19 calibration note).

The validated instrument is therefore SELF-ANCHORED: the median ratio
over all common uncontended isolated queries is the box-drift scale
(the fixed-work basket IS the reference; a handful of genuine plan
regressions cannot move the median of ~30 ratios), and a query flags
when it exceeds the threshold under that normalization. The probe
ratios are still computed and printed as diagnostics — a plan-WIDE
uniform regression is the one shape the median absorbs, and probes
disagreeing with the median in the same direction is the tell — and
the gate falls back to the legacy both-probes rule when fewer than
MIN_BASKET common uncontended samples exist.

Exit 0 = clean (or waived), exit 1 = unwaived regression(s).
"""

import argparse
import json
import os
import re
import sys

ISO_RE = re.compile(
    r'"(\w+)":\{"sec":([0-9.eE+-]+),"load_before":[0-9.eE+-]+,'
    r'"load_after":[0-9.eE+-]+,"contended":(true|false)\}')
CALIB_RE = re.compile(r'"calib_sec":([0-9.eE+-]+)')
CALIB2_RE = re.compile(r'"calib2_sec":([0-9.eE+-]+)')
ACTION_RE = re.compile(r'"action":"(\w+)"')

# Round 17: the canonical bench series migrated from count() to the
# full-plan noop sink (count measurably under-prices projection and
# global-aggregate plans — up to 18x on q_cast; see BASELINE.md
# count-series EOL note). Artifacts from the two actions are NOT
# comparable: a noop-vs-count diff would flag every projection-shaped
# query as a phantom regression. Round 18 (VERDICT r17 next #4): the
# one cross-action boundary (r17-vs-r16) is behind us and both sides
# of every future diff are noop, so the transitional bridge-anchor
# swap is retired — an action mismatch now fails loudly instead of
# silently substituting a different prior. graft.Bench now always
# stamps "action":"noop"; only pre-r17 artifacts read "count".

# Round 14: the former ITERATIVE-class special case (normalize the
# in-session trainers by calib2 instead of calib) is subsumed by the
# both-probes rule below — every query now passes if EITHER
# normalization clears it, which is strictly what the class carve-out
# bought the trainers, generalized to the flat-cost shuffle-bound
# queries that showed the identical non-CPU-tracking behavior.


def load_isolated(path):
    """-> ({query: (sec, contended)}, calib_sec|None, calib2_sec|None, action).

    `action` is "count" for artifacts predating the round-16 action
    stamp — every BENCH_r1..r16 artifact measured count().
    """
    with open(path) as f:
        raw = f.read()
    try:
        doc = json.loads(raw)
    except json.JSONDecodeError:
        doc = None
    if isinstance(doc, dict) and "isolated_detail" in doc:
        return ({q: (v["sec"], v["contended"])
                 for q, v in doc["isolated_detail"].items()},
                doc.get("calib_sec"), doc.get("calib2_sec"),
                doc.get("action", "count"))
    # driver wrapper: regex-recover from the (possibly truncated) tail
    text = doc.get("tail", raw) if isinstance(doc, dict) else raw
    calib = CALIB_RE.search(text)
    calib2 = CALIB2_RE.search(text)
    action = ACTION_RE.search(text)
    return ({q: (float(sec), flag == "true")
             for q, sec, flag in ISO_RE.findall(text)},
            float(calib.group(1)) if calib else None,
            float(calib2.group(1)) if calib2 else None,
            action.group(1) if action else "count")


def waivers(baseline_md):
    if not os.path.exists(baseline_md):
        return set()
    with open(baseline_md) as f:
        return set(re.findall(r"benchguard-ok:\s*(\w+)", f.read()))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("current")
    ap.add_argument("prior")
    ap.add_argument("--threshold", type=float, default=0.30)
    ap.add_argument("--baseline-md",
                    default=os.path.join(os.path.dirname(__file__), "..", "BASELINE.md"))
    args = ap.parse_args()

    cur, cur_calib, cur_calib2, cur_action = load_isolated(args.current)
    prev, prev_calib, prev_calib2, prev_action = load_isolated(args.prior)
    if cur_action != prev_action:
        print(f"benchguard: ACTION MISMATCH — current={cur_action} vs "
              f"prior={prev_action}; these series are not comparable "
              f"(count under-prices projection plans up to 18x). The "
              f"canonical series is noop; pass a same-action prior.",
              file=sys.stderr)
        return 1
    if not cur or not prev:
        print(f"benchguard: no isolated samples parsed "
              f"(current={len(cur)}, prior={len(prev)}) — cannot gate", file=sys.stderr)
        return 1
    # Drift normalization (round 12): both artifacts carry a fixed
    # CPU-bound calibration probe; dividing current times by the calib
    # ratio cancels box-speed drift (the host slows ~2x intra-day,
    # invisible to loadavg) so the gate flags PLAN changes, not the
    # box. Applied in both directions — a faster box must not hide a
    # genuine regression either. Falls back to raw comparison when
    # either side predates the probe.
    scale = 1.0
    if cur_calib and prev_calib and prev_calib > 0:
        scale = cur_calib / prev_calib
        print(f"benchguard: calib {prev_calib:.3f}s -> {cur_calib:.3f}s "
              f"(box-speed ratio {scale:.2f}; isolated diffs normalized)")
    # Stage-latency ratio: the second hypothesis about what moved a
    # query's cost. A flag must survive BOTH normalizations (see module
    # doc); falls back to CPU-only when either side predates calib2.
    scale2 = scale
    if cur_calib2 and prev_calib2 and prev_calib2 > 0:
        scale2 = cur_calib2 / prev_calib2
        print(f"benchguard: calib2 {prev_calib2:.3f}s -> {cur_calib2:.3f}s "
              f"(stage-latency ratio {scale2:.2f}; diagnostic only since "
              f"round 19 — see module doc)")
    waived = waivers(args.baseline_md)

    # Self-anchored drift scale (round 19): median ratio over the
    # common uncontended isolated samples — the validated instrument.
    MIN_BASKET = 8
    usable = [(q, cur[q][0], prev[q][0])
              for q in set(cur) & set(prev)
              if not cur[q][1] and not prev[q][1] and prev[q][0] > 0]
    ratios = sorted(c / p for _, c, p in usable)
    median_ratio = ratios[len(ratios) // 2] if ratios else None
    self_anchored = len(ratios) >= MIN_BASKET
    if self_anchored:
        print(f"benchguard: self-anchored drift scale {median_ratio:.2f} "
              f"(median of {len(ratios)} uncontended isolated ratios; "
              f"primary normalization)")
        # Round 20 (ADVICE r19 #1): the r19 warning fired on the WRONG
        # shape. Median and both probes >1.2 is the case most
        # consistent with genuine box drift — the probes run fixed
        # synthetic work no repo plan change can slow — so it is at
        # most informational. The suspicious shape is the OPPOSITE:
        # median high while both probes read ~1.0 (the box did not
        # slow, yet every query did — exactly a plan-WIDE uniform
        # regression, the one shape the self-anchored median absorbs
        # by construction). In that shape the gate must not normalize
        # the regression away: fall back to the legacy probe-anchored
        # rule, which the r14-r18 series would have flagged it with.
        have_probes = bool(cur_calib and prev_calib
                           and cur_calib2 and prev_calib2)
        if (have_probes and median_ratio > 1.2
                and scale < 1.1 and scale2 < 1.1):
            print("benchguard: WARNING — median reads every query "
                  f">{(median_ratio - 1) * 100:.0f}% slower while BOTH "
                  "fixed-work probes read the box flat "
                  f"({scale:.2f}/{scale2:.2f}): consistent with a "
                  "plan-WIDE uniform regression, which the "
                  "self-anchored median would absorb. Falling back to "
                  "legacy probe-anchored gating for this diff.",
                  file=sys.stderr)
            self_anchored = False
        elif median_ratio > 1.2 and scale > 1.2 and scale2 > 1.2:
            print("benchguard: note — median and both probes agree the "
                  "box is slower (uniform drift, the benign shape); "
                  "self-anchored normalization stands")
    else:
        print(f"benchguard: only {len(ratios)} uncontended common samples "
              f"(< {MIN_BASKET}) — falling back to the legacy "
              f"both-probes rule")

    regressions, skipped = [], []
    for q in sorted(set(cur) & set(prev)):
        c_sec, c_cont = cur[q]
        p_sec, p_cont = prev[q]
        if c_cont or p_cont:
            skipped.append(q)
            continue
        if self_anchored:
            c_norm = c_sec / median_ratio
        else:
            # legacy: the smaller of the two probe-normalized readings
            # is the most charitable admissible cost model
            c_norm = min(c_sec / scale, c_sec / scale2)
        if p_sec > 0 and c_norm > p_sec * (1 + args.threshold):
            regressions.append((q, p_sec, c_norm))

    for q in skipped:
        print(f"benchguard: SKIP {q} (contended sample)")
    ok = True
    norm = " (normalized)" if scale != 1.0 else ""
    for q, p, c in regressions:
        if q in waived:
            print(f"benchguard: WAIVED {q}: {p:.2f}s -> {c:.2f}s{norm} "
                  f"(+{(c / p - 1) * 100:.0f}%, benchguard-ok note in BASELINE.md)")
        else:
            print(f"benchguard: REGRESSION {q}: {p:.2f}s -> {c:.2f}s{norm} "
                  f"(+{(c / p - 1) * 100:.0f}% > +{args.threshold * 100:.0f}%) — "
                  f"add a 'benchguard-ok: {q}' note to BASELINE.md explaining the "
                  f"cost, or fix the plan", file=sys.stderr)
            ok = False
    if ok:
        n = len(set(cur) & set(prev)) - len(skipped)
        print(f"benchguard: PASS — {n} isolated queries within "
              f"+{args.threshold * 100:.0f}% of prior round")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
