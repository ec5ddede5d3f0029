#!/usr/bin/env python3
"""One-command scale gate (dev tool only — NOT part of the library).

Round-11 verdict item #5: the 10x derived-corpus gate caught the whole
cross-engine bug class (q109 half-micro, q57 HUGEINT, q110 decimal cap)
that sf0.1 never surfaces, so it must be a standing, one-command gate
rather than a per-round hand-assembled pipeline. This wires together the
reviewed pieces — it adds no logic of its own:

  1. ensure the ~10x corpus via `graft.ScaleCorpus` — the SAME
     derivation (and, by default, the same directory) the official
     bench self-upgrades to, so correctness evidence and bench floors
     describe one dataset (round-14 review: the old split — a DuckDB
     derive script for correctness, ScaleCorpus for timing — duplicated
     the offset rules with nothing asserting parity; the script is
     deleted). ScaleCorpus's
     fingerprint marker decides reuse vs re-derivation.
  2. full oracle gate there: `sbt "runMain graft.Verify <corpus> <out>"`
     then tools/gate.py (DuckDB driver-compare replication)
  3. bench at sf0.1 and at the corpus, same session config
  4. super-linear scan (tools/r11/scale_compare.py — enforced: missing
     or failed queries exit non-zero, not just ratio breaches)
  5. write the SCALE.md report (gate verdict + full ratio table)

Usage:
  python3 tools/scale_gate.py [--corpus /tmp/graft_sf1d] [--report DIR]
                              [--skip-bench] [--replicas N]

Keep the default --corpus unless you have a reason: it is
ScaleCorpus.defaultDir, the directory the official bench self-upgrades
to, and its basename is what tools/floors.py uses to route a run's
times into the SCALED floor block. A differently-named corpus benches
with floors inactive and its artifacts route to the wrong block.

`--replicas 100` is the 100x (~sf10) probe gate, folded in from the
r16 hand-sequenced runner (since deleted) per that round's verdict
item 5. Probe mode (any --replicas != 10) switches to
the protocol the r16 run validated:
  - corpus defaults to /tmp/graft_sf{N//10}s (r16: /tmp/graft_sf10s)
  - Verify runs with SPARK_DRIVER_MEM=48g (the ~27M-entry q31 fixture
    derivation peaks near that; override via the env var)
  - the oracle gate runs PER QUERY under a watchdog (9 min / 35 GB
    free-disk budget per oracle, GRAFT_GATE_MEMLIMIT=95GB) so an
    oracle-engine wall is recorded as oracle-engine-bound instead of
    crashing the sweep with ENOSPC — the r16 lesson (q102/q45 pre-
    MATERIALIZED filled the volume twice)
  - the bench/ratio legs are skipped (floors only exist for the 10x
    corpus; the probe is a correctness gate)

Exit 0 only when the gate is all-OK (every registered query) and no
query is super-linear.
Artifacts land in --report (default tools/scale_gate_out/):
GATE_SF1D.log, BENCH_SF01_LOCAL.json, BENCH_SF1D_LOCAL.json, SCALE.md.
"""
import argparse
import datetime
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

ROOT = pathlib.Path(__file__).resolve().parent.parent
SF01 = "/root/testdata/sf0.1"

# probe-mode watchdog budgets — the values the r16 sf10 run validated
TIME_LIMIT = 9 * 60          # seconds per oracle
DISK_FLOOR_GB = 35           # kill before the volume fills
PROBE_MEMLIMIT = "95GB"
PROBE_DRIVER_MEM = "48g"


def run(cmd, **kw):
    print(f"[scale_gate] $ {' '.join(cmd)}", flush=True)
    return subprocess.run(cmd, cwd=ROOT, **kw)


def ensure_corpus(corpus: str, replicas: int) -> str:
    # graft.ScaleCorpus reuses a marker-valid corpus and (re)derives
    # otherwise — single source of truth for the derivation rules
    r = run(["sbt", "-batch",
             f"runMain graft.ScaleCorpus {SF01} {corpus} {replicas}"])
    if r.returncode != 0:
        raise SystemExit("ScaleCorpus derivation failed")
    return f"ensured via graft.ScaleCorpus x{replicas} (marker decides reuse)"


def free_gb(path="/"):
    return shutil.disk_usage(path).free / (1 << 30)


def gate_one_watchdog(out: str, corpus: str, q: str, log) -> str:
    """One query through gate.py under the r16 watchdog: kill on the
    time/disk budget and record it, instead of letting a runaway oracle
    spill fill the volume."""
    env = dict(os.environ)
    env.setdefault("GRAFT_GATE_MEMLIMIT", PROBE_MEMLIMIT)
    p = subprocess.Popen([sys.executable, "tools/gate.py", out, corpus, q],
                         stdout=log, stderr=subprocess.STDOUT, env=env,
                         cwd=ROOT, start_new_session=True)
    t0 = time.time()
    while True:
        rc = p.poll()
        if rc is not None:
            return "ok" if rc == 0 else "mismatch"
        el = time.time() - t0
        if el > TIME_LIMIT or free_gb() < DISK_FLOOR_GB:
            reason = "time" if el > TIME_LIMIT else "disk"
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            # reclaim any spill the killed engine left behind
            shutil.rmtree(ROOT / ".tmp", ignore_errors=True)
            return f"oracle-engine-bound({reason})"
        time.sleep(5)


def gate(corpus: str, report: pathlib.Path, probe: bool) -> "tuple[int, str]":
    """Returns (rc, summary) where summary states the REAL per-query
    tally ("121 OK, 0 MISMATCH") — SCALE.md used to hardcode a stale
    '112/112-style' phrase that misdescribed wider gates (r18 verdict
    item 3)."""
    out = f"{corpus.rstrip('/')}_verify"
    shutil.rmtree(out, ignore_errors=True)
    env = dict(os.environ)
    if probe:
        env.setdefault("SPARK_DRIVER_MEM", PROBE_DRIVER_MEM)
    if run(["sbt", "-batch", f"runMain graft.Verify {corpus} {out}"],
           env=env).returncode:
        raise SystemExit("Verify failed")
    log = report / "GATE_SF1D.log"
    if not probe:
        with open(log, "w") as f:
            rc = run([sys.executable, "tools/gate.py", out, corpus],
                     stdout=f, stderr=subprocess.STDOUT).returncode
        tail = log.read_text().strip().splitlines()
        ok = sum(1 for l in tail if ": OK" in l)
        bad = sum(1 for l in tail if "MISMATCH" in l)
        print(f"[scale_gate] gate: {ok} OK, {bad} MISMATCH (log: {log})")
        return (0 if (rc == 0 and bad == 0 and ok > 0) else 1,
                f"{ok} OK, {bad} MISMATCH")
    # probe mode: per-query watchdog sweep
    queries = sorted(p.name for p in pathlib.Path(out).glob("q*") if p.is_dir())
    ok = bad = bound = 0
    with open(log, "w") as f:
        for q in queries:
            status = gate_one_watchdog(out, corpus, q, f)
            line = f"[scale_gate] {q}: {status} (free={free_gb():.0f}G)"
            print(line, flush=True)
            f.write(line + "\n")
            f.flush()
            ok += status == "ok"
            bad += status == "mismatch"
            bound += status.startswith("oracle-engine-bound")
    print(f"[scale_gate] probe gate: {ok} OK, {bad} MISMATCH, "
          f"{bound} oracle-engine-bound (log: {log})")
    return (0 if (bad == 0 and bound == 0 and ok > 0) else 1,
            f"{ok} OK, {bad} MISMATCH, {bound} oracle-engine-bound")


def bench(sf_dir: str, dest: pathlib.Path) -> None:
    local = ROOT / "BENCH_LOCAL.json"
    local.unlink(missing_ok=True)
    # SPARK_GRAFT_SCALE=off: since round 14 Bench self-upgrades an
    # sf0.1 request to the derived 10x corpus — this tool benches the
    # EXPLICIT corpus it was asked to (the sf0.1-vs-10x ratio scan
    # needs the small leg to actually run at sf0.1)
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_SCALE="off")
    if run(["sbt", "-batch", "runMain graft.Bench"], env=env).returncode:
        raise SystemExit(f"bench at {sf_dir} failed")
    if not local.exists():
        raise SystemExit(f"bench at {sf_dir} wrote no BENCH_LOCAL.json")
    shutil.copy(local, dest)


def main():
    ap = argparse.ArgumentParser()
    # default = ScaleCorpus.defaultDir: the corpus the official bench
    # self-upgrades to, so one directory serves both gates
    ap.add_argument("--corpus", default=None)
    ap.add_argument("--report", default=str(ROOT / "tools/scale_gate_out"))
    ap.add_argument("--skip-bench", action="store_true",
                    help="correctness gate only (no perf ratio table)")
    ap.add_argument("--replicas", type=int, default=10,
                    help="sf0.1 replicas; 100 = the ~sf10 probe gate")
    args = ap.parse_args()
    probe = args.replicas != 10
    if args.corpus is None:
        args.corpus = ("/tmp/graft_sf1d" if not probe
                       else f"/tmp/graft_sf{args.replicas // 10}s")
    if probe and not args.skip_bench:
        print("[scale_gate] probe mode: skipping the bench/ratio legs "
              "(floors only exist for the 10x corpus)")
        args.skip_bench = True
    report = pathlib.Path(args.report)
    report.mkdir(parents=True, exist_ok=True)

    provenance = ensure_corpus(args.corpus, args.replicas)
    gate_rc, gate_summary = gate(args.corpus, report, probe)

    cmp_rc, cmp_out = 0, "(bench skipped)"
    if not args.skip_bench:
        b01 = report / "BENCH_SF01_LOCAL.json"
        b1d = report / "BENCH_SF1D_LOCAL.json"
        bench(SF01, b01)
        bench(args.corpus, b1d)
        p = run([sys.executable, "tools/r11/scale_compare.py",
                 str(b01), str(b1d)],
                capture_output=True, text=True)
        cmp_rc, cmp_out = p.returncode, p.stdout + p.stderr
        print(cmp_out)

    stamp = datetime.date.today().isoformat()
    verdict = "PASS" if gate_rc == 0 and cmp_rc == 0 else "FAIL"
    (report / "SCALE.md").write_text(f"""# Scale gate — {stamp}: {verdict}

Derived {args.replicas}x corpus at `{args.corpus}` ({provenance});
full oracle gate (`graft.Verify` + `tools/gate.py` driver-compare)
{'(per-query watchdog probe protocol)' if probe
 else 'and the sf0.1-vs-10x super-linear scan'}, produced by one command:

    python3 tools/scale_gate.py{f' --replicas {args.replicas}' if probe else ''}

- correctness gate: {gate_summary} (see GATE_SF1D.log)
- super-linear scan (enforced: missing/failed queries also fail):

```
{cmp_out.strip()}
```
""")
    print(f"[scale_gate] {verdict} — report at {report}/SCALE.md")
    sys.exit(0 if verdict == "PASS" else 1)


if __name__ == "__main__":
    main()
