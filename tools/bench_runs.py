#!/usr/bin/env python3
"""Run graft.Bench N fresh-JVM times and install the MEDIAN admissible
run's sidecar as BENCH_FULL.json (round-9 verdict #3: committing the best
of N same-code runs is selection bias — it systematically understates
variance, which is exactly how the r9 15 s minhash driver reading became a
surprise). Every run's {total, probe bracket} stays in the sidecar's
`runs` series regardless of which run's per-query map is installed, so
the spread itself is part of the artifact.

Admissible = both bracketing host probes read aggregate >= 2.5e8 it/s AND
the bracket's best membw reading is >= 1.7e10 B/s (tools/host_probe.py
calibration; the membw leg is round 12's — CPU-healthy but
bandwidth-depressed windows inflate the block-manager-heavy LSH rows
1.4-1.7x). If no run is admissible the median of all runs is installed
with a loud warning — never the fastest.

Usage: python3 tools/bench_runs.py [N]      (default 3)
Env:   SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS etc. are forwarded to
       graft.Bench; SPARK_GRAFT_REPO_DIR locates the repo (default: cwd).
"""
import json
import os
import subprocess
import sys

# Thresholds are single-sourced from the probe script itself (same dir on
# sys.path when invoked as tools/bench_runs.py) — round-12 review: two
# hand-duplicated constants drift. Calibration rationale lives at their
# definitions in host_probe.py; the membw rule here is the BRACKET-MAX rule
# (one-sided dips occur inside healthy runs), and runs predating the membw
# leg (no reading in either probe) are not failed retroactively.
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from host_probe import HEALTHY_AGG, HEALTHY_MEMBW  # noqa: E402


def bracket_membws(s):
    return [p.get("membw") for p in (s["probe_before"], s["probe_after"])
            if p and p.get("membw") is not None]


def membw_ok(s):
    """Bracket-MAX rule (one-sided dips occur inside healthy runs); runs
    predating the membw leg (no readings) are not failed retroactively.
    The single source of truth for both the per-run print tag and the
    admissibility gate (round-12 review: two copies diverge)."""
    bws = bracket_membws(s)
    return not bws or max(bws) >= HEALTHY_MEMBW


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    repo = os.environ.get("SPARK_GRAFT_REPO_DIR") or os.getcwd()
    side = os.path.join(repo, "BENCH_FULL.json")
    add_opens = []
    for p in ("java.lang java.lang.invoke java.lang.reflect java.io java.net "
              "java.nio java.util java.util.concurrent "
              "java.util.concurrent.atomic sun.nio.ch sun.nio.cs "
              "sun.security.action sun.util.calendar").split():
        add_opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd = ["java", *add_opens, "-Xmx8g", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{repo}/target/scala-2.13/classes:/opt/spark/jars/*",
           "graft.Bench"]
    sidecars = []
    for i in range(n):
        # graft.Bench's sidecar write is best-effort (swallows IO errors and
        # exits 0), so a failed write would otherwise make this loop re-read
        # the STALE previous sidecar as if it were the fresh run — selection
        # over no evidence at all. Staleness is detected by CONTENT hash,
        # not mtime (round-10 ADVICE: float-mtime equality misclassifies a
        # rewrite landing inside one coarse-granularity tick): every Bench
        # run appends itself to the sidecar's `runs` series, so a fresh
        # write can never be byte-identical to the previous one.
        def digest():
            if not os.path.exists(side):
                return None
            import hashlib
            with open(side, "rb") as f:
                return hashlib.sha256(f.read()).hexdigest()
        before_digest = digest()
        subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL,
                       stderr=subprocess.DEVNULL)
        after_digest = digest()  # read once: no double hash, no TOCTOU
        if after_digest is None or after_digest == before_digest:
            sys.exit(f"run {i + 1}/{n}: graft.Bench did not refresh {side} "
                     "(write failed silently?) — aborting, not installing "
                     "stale data")
        with open(side) as f:
            sidecars.append(json.load(f))
        s = sidecars[-1]
        bw_tag = ("" if membw_ok(s)
                  else " MEMBW-DEGRADED(bracket max "
                       f"{max(bracket_membws(s)):.3g} < {HEALTHY_MEMBW:.3g})")
        qa = s.get("query_admissibility", {})
        bad_q = sorted(q for q, v in qa.items() if not v["admissible"])
        qa_tag = (f" QUERY-DEGRADED[{','.join(bad_q)}]" if bad_q else "")
        failed = s.get("failed") or []
        failed_tag = f" FAILED[{','.join(failed)}]" if failed else ""
        print(f"run {i + 1}/{n}: total={s['total']:.1f}s "
              f"probe_before={s['probe_before']} "
              f"probe_after={s['probe_after']}{bw_tag}{qa_tag}{failed_tag}")

    def healthy(p):
        return bool(p) and p.get("agg", 0) >= HEALTHY_AGG

    adm = [s for s in sidecars
           if healthy(s["probe_before"]) and healthy(s["probe_after"])
           and membw_ok(s)]
    pool = adm if adm else sidecars
    if not adm:
        print("WARNING: no run had a fully healthy probe bracket; installing "
              "the median of ALL runs — treat the result as inadmissible")
    pool = sorted(pool, key=lambda s: s["total"])
    chosen = dict(pool[(len(pool) - 1) // 2])  # lower median on even counts
    # The chosen run's sidecar, but with the FULL accumulated series (each
    # Bench run appended itself, so the last run's series is complete).
    chosen["runs"] = sidecars[-1]["runs"]
    with open(side, "w") as f:
        json.dump(chosen, f, separators=(",", ":"))
    print(f"installed median {'admissible ' if adm else ''}run: "
          f"total={chosen['total']:.1f}s ({len(adm)}/{n} admissible)")


if __name__ == "__main__":
    main()
