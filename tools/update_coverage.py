#!/usr/bin/env python3
"""Regenerate COVERAGE.md's Totals block from artifacts instead of prose
(VERDICT r5/r6: hand-maintained counts drifted twice). Usage:

    sbt -batch test 2>&1 | tee /tmp/sbt_test.log
    sbt -batch 'runMain graft.Verify /root/testdata/sf0.01 /tmp/graft_verify'
    python3 tools/check.py /root/testdata/sf0.01 /tmp/graft_verify | tee /tmp/check.log
    python3 tools/update_coverage.py /tmp/sbt_test.log /tmp/graft_verify /tmp/check.log

With --check, nothing is written: the script FAILS (exit 1) if the
committed COVERAGE.md totals differ from what the artifacts say — the
verify flow runs this so the totals can never drift again (VERDICT r7).
Without --check it writes the regenerated totals, then still exits 1
when SHUFFLE_AUDIT.json breaks the shuffle growth rule.
In BOTH modes it also fails if any graded entry (a query dir under
<verify_outdir>) is not named somewhere in COVERAGE.md — the
operator→entry map is the audit trail and must account for every key
(VERDICT r16 #2).

Counts come from:
  - ScalaTest totals: the sbt log's "Total number of tests run" /
    "Suites: completed" lines (fails loudly if tests failed);
  - oracle-graded entries: keys of <verify_outdir>/oracle_sql.json;
  - rows-only entries: query output dirs without an oracle key;
  - green: check.py's "== N pass, M fail ==" line (fails loudly on M>0).

The block between the COVERAGE-TOTALS markers is replaced verbatim.
"""
import json, os, re, sys

USAGE = ("usage: update_coverage.py [--check] <sbt_test.log> <verify_outdir> "
         "<check.log>\n(defaults: /tmp/sbt_test.log /tmp/graft_verify "
         "/tmp/check.log — pass paths explicitly in CI)")


def shuffle_audit_violations(path="SHUFFLE_AUDIT.json"):
    """Self-proving scale audit (VERDICT r13 #3): every entry must hold
    shuffle_growth <= expected_growth * 1.2, where expected_growth is
    max(data_ratio, input_growth) — emitted per entry by
    graft.tools.ShuffleAudit, recomputed here as the fallback for older
    artifacts. Waivers must be DOCUMENTED in the artifact's "waivers"
    object (name -> reason); an undocumented breach fails --check."""
    if not os.path.exists(path):
        return [f"{path} missing — run graft.tools.ShuffleAudit"]
    d = json.load(open(path))
    ratio = float(d.get("data_ratio_hint", 10.0))
    waivers = d.get("waivers", {}) or {}
    # a zero-shuffle-at-small-SF plan has effectively infinite growth
    # the moment the big SF starts shuffling (ADVICE r14): bound the
    # big side ABSOLUTELY — above this many bytes the plan is no
    # longer "broadcast/zero-shuffle", whatever the ratio says.
    ZERO_SMALL_BIG_FLOOR = 64 * 1024
    viol = []
    for name, q in sorted(d.get("queries", {}).items()):
        g = q.get("shuffle_growth")
        ig = q.get("input_growth")
        if g is None:
            # shuffle_write_small == 0 — exactly the case the ratio
            # rule cannot see; enforce the absolute bound instead
            big = q.get("shuffle_write_big")
            if big is not None and float(big) > ZERO_SMALL_BIG_FLOOR \
                    and name not in waivers:
                viol.append(f"{name}: zero-shuffle at small SF but "
                            f"shuffle_write_big {big} B > {ZERO_SMALL_BIG_FLOOR} B "
                            f"floor — the plan started shuffling at scale "
                            f"(infinite growth), or add a documented waiver")
        else:
            exp = q.get("expected_growth")
            if exp is None:
                exp = max(ratio, float(ig)) if ig is not None else ratio
            if float(g) > float(exp) * 1.2 and name not in waivers:
                viol.append(f"{name}: shuffle_growth {g} > expected {exp} * 1.2 "
                            f"(input_growth {ig}) — superlinear exchange, or add a "
                            f"documented waiver to SHUFFLE_AUDIT.json")
        # input-side superlinearity must not self-justify via
        # expected_growth = max(ratio, input_growth) (ADVICE r14): the
        # input reads themselves are bounded against the data ratio
        if ig is not None and float(ig) > ratio * 1.2 and name not in waivers:
            viol.append(f"{name}: input_growth {ig} > data ratio {ratio} * 1.2 "
                        f"— superlinear re-read pattern, or add a documented "
                        f"waiver to SHUFFLE_AUDIT.json")
    return viol

def main():
    check_only = "--check" in sys.argv
    pos = [a for a in sys.argv[1:] if a != "--check"]
    if pos and len(pos) != 3:
        sys.exit(USAGE)
    if not pos:
        pos = ["/tmp/sbt_test.log", "/tmp/graft_verify", "/tmp/check.log"]
    sbt_log, verify_dir, check_log = pos
    for p in (sbt_log, check_log):
        if not os.path.exists(p):
            sys.exit(f"missing input {p}\n{USAGE}")
    if not os.path.isdir(verify_dir):
        sys.exit(f"missing verify dir {verify_dir}\n{USAGE}")
    log = open(sbt_log, encoding="utf-8", errors="replace").read()
    m = re.search(r"Total number of tests run: (\d+)", log)
    s = re.search(r"Suites: completed (\d+), aborted (\d+)", log)
    f = re.search(r"Tests: succeeded (\d+), failed (\d+)", log)
    if not (m and s and f):
        sys.exit("sbt log missing ScalaTest summary lines")
    n_tests, n_suites = int(m.group(1)), int(s.group(1))
    if int(f.group(2)) != 0 or int(s.group(2)) != 0:
        sys.exit(f"refusing to record counts from a failing run: {f.group(0)}")
    oracle = json.load(open(os.path.join(verify_dir, "oracle_sql.json")))
    queries = sorted(d for d in os.listdir(verify_dir)
                     if os.path.isdir(os.path.join(verify_dir, d)))
    rows_only = sorted(set(queries) - set(oracle))
    chk = open(check_log, encoding="utf-8", errors="replace").read()
    c = re.search(r"== (\d+) pass, (\d+) fail ==", chk)
    if not c:
        sys.exit("check log missing the pass/fail summary line")
    if int(c.group(2)) != 0:
        sys.exit(f"refusing to record counts with {c.group(2)} oracle failures")
    if int(c.group(1)) != len(oracle):
        sys.exit(f"check passes {c.group(1)} != oracle count {len(oracle)}")

    # Orphan gate (VERDICT r16 #2): COVERAGE.md is the operator→entry
    # audit trail — every graded SparkEntry.queries key must be NAMED in
    # it somewhere (the r16 710→330-line trim silently dropped 13). The
    # totals block above proves the counts; this proves the map.
    cov_text = open("COVERAGE.md", encoding="utf-8").read()
    orphans = [q for q in queries
               if not re.search(r"\b" + re.escape(q) + r"\b", cov_text)]
    if orphans:
        sys.exit("COVERAGE.md does not name these graded entries "
                 f"({len(orphans)} orphans — add them to the operator map):\n  "
                 + "\n  ".join(orphans))

    block = (
        "<!-- COVERAGE-TOTALS: generated by tools/update_coverage.py — do not edit -->\n"
        f"**Totals: {len(oracle)} oracle-graded CORRECTNESS entries + "
        f"{len(rows_only)} rows-only ({', '.join(rows_only) if rows_only else 'none'}), "
        f"all green at sf0.01; {n_tests} ScalaTest tests, {n_suites} suites, 0 failures.**\n"
        "<!-- /COVERAGE-TOTALS -->")
    path = "COVERAGE.md"
    text = open(path, encoding="utf-8").read()
    pat = re.compile(r"<!-- COVERAGE-TOTALS:.*?<!-- /COVERAGE-TOTALS -->", re.S)
    if pat.search(text):
        new_text = pat.sub(lambda _: block, text)
    else:
        sys.exit("COVERAGE.md has no COVERAGE-TOTALS markers")
    # README gate numbers ride the same artifacts (ADVICE r14: the
    # README drifted to stale counts because only COVERAGE.md was
    # gated) — rewrite/verify its "N tests across M suites" and
    # "K oracle-graded correctness entries" phrases
    readme_path = "README.md"
    readme = open(readme_path, encoding="utf-8").read()
    new_readme = re.sub(r"\d+ tests across \d+ suites",
                        f"{n_tests} tests across {n_suites} suites", readme)
    new_readme = re.sub(r"\d+ oracle-graded correctness entries",
                        f"{len(oracle)} oracle-graded correctness entries",
                        new_readme)
    # shuffle-scale gate (VERDICT r13 #3) — enforced in BOTH modes so a
    # regeneration can never paper over a superlinear exchange
    shuffle_viol = shuffle_audit_violations()
    if check_only:
        # verify-flow drift gate (VERDICT r7 #8): fail if the committed
        # totals do not match what the artifacts say
        if new_text != text:
            sys.exit("COVERAGE.md totals DRIFTED from artifacts — "
                     "run tools/update_coverage.py (without --check)")
        if new_readme != readme:
            sys.exit("README.md gate numbers DRIFTED from artifacts — "
                     "run tools/update_coverage.py (without --check)")
        if shuffle_viol:
            sys.exit("SHUFFLE_AUDIT growth rule violated:\n  " +
                     "\n  ".join(shuffle_viol))
        print("COVERAGE.md totals match artifacts; "
              "SHUFFLE_AUDIT growth rule holds for all entries")
        return
    open(path, "w", encoding="utf-8").write(new_text)
    if new_readme != readme:
        open(readme_path, "w", encoding="utf-8").write(new_readme)
        print("README.md gate numbers refreshed")
    print(block)
    # the totals are written either way; the growth rule still fails
    # the run, so a `--check || regenerate` gate cannot pass on it
    if shuffle_viol:
        sys.exit("SHUFFLE_AUDIT growth rule violated (totals written; fix "
                 "or waive):\n  " + "\n  ".join(shuffle_viol))

if __name__ == "__main__":
    main()
