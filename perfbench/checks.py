"""The checks that run once per invocation of `run.py --check`, outside
the timed runs. Each prints PASS or FAIL with its evidence; the exit code
is the number of failed checks.

  guard       the day-3 release drops 12% of records: every xdb delete
              must be downgraded to keep_stale by the 8% ceiling
  reannotate  a second AnnotateMain.run over an unchanged store must
              classify every annotation as match
  board       the board queries pass graft.Verify, then tools/check.py
              (the DuckDB oracle compare) with the same query list
  selftest    generator determinism and board-conf drift (selftest.py)
"""
import json
import os
import subprocess
import sys

import run
import selftest

REANNOTATE_RECORDS = 100_000


def _guard(opts, env, seed):
    work, expected = run.clinvar_inputs(seed)
    e = run.harness(opts, ["guard", work], env, "guard.log")[0][-1]
    planted = expected["day3"]
    problems = run.check_counters(e["day3"], planted["variants"])
    problems += run.check_counters(e["day3"], planted["xdb_ids"], "xdb_ids")
    if e["day3"].get("xdb_ids.keep_stale", 0) == 0:
        problems.append("no xdb rows kept as keep_stale")
    unsettled = {k: n for k, n in e["converged"].items() if n and not k.endswith(".match")}
    if unsettled:
        problems.append("day-1 store not converged after one reload: %s" % unsettled)
    return problems, {"reload": e["reload"], "converged": e["converged"], "day3": e["day3"]}


def _reannotate(opts, env, seed):
    # at the 100k-record size the ROADMAP sizes a release at, the top gene
    # carries ~16k variants and its orthologs fan out as many annotations
    work, expected = run.clinvar_inputs(seed, REANNOTATE_RECORDS)
    e = run.harness(opts, ["reannotate", work], env, "reannotate.log")[0][-1]
    spurious = {k: n for k, n in e["second"].items() if not k.endswith(".match") and n}
    problems = ["second annotate pass is not all-match: %s" % spurious] if spurious else []
    return problems, {"first": e["first"], "second": e["second"],
                      "top_gene_variants": expected["top_gene_variants"]}


def _board(opts, env, seed):
    data, _ = run.board_inputs(seed)
    out = os.path.join(run.WORK, "board", "verify_out")
    names = ",".join(run.BOARD_QUERIES)
    verify = run.launch(opts, "graft.Verify", [data, out, names], env, "verify.log")["out"]
    c = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check.py"), out, data,
                        names], cwd=run.ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    problems = []
    if any("VERIFY FAILURES" in l for l in verify):
        problems.append("graft.Verify: " + " ".join(verify)[-500:])
    if c.returncode != 0:
        problems.append("tools/check.py: " + c.stdout.strip()[-1500:])
    return problems, {"check_py": c.stdout.strip().splitlines()[-1:]}


def run_all(opts, env, seed):
    results = {}
    for name, fn in (("guard", _guard), ("reannotate", _reannotate), ("board", _board)):
        problems, evidence = fn(opts, env, seed)
        results[name] = {"pass": not problems, "problems": problems, "evidence": evidence}
    st = selftest.run_all()
    results["selftest"] = {"pass": not st, "problems": st}
    for name, r in results.items():
        print("[check] %-10s %s %s" % (name, "PASS" if r["pass"] else "FAIL",
                                       "; ".join(r["problems"])), flush=True)
    print(json.dumps(results, sort_keys=True))
    return sum(1 for r in results.values() if not r["pass"])
