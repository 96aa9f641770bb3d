"""Per-edge-family precision/recall report against the frozen edge-level
goldens (tests/golden_edges.json) over the reference's own fixture corpus.

BASELINE.md's correctness metric is "AST/CFG/PDG triple P/R >= 0.95 vs
PropertyGraph reference fixtures". The reference jar cannot run in this
sandbox (no org.eclipse.jdt.core on disk), so the golden edge sets are
frozen from this kernel at the revision whose semantics were hand-verified
rule-by-rule against the reference source (PARITY.md walks a full fixture
edge-by-edge against file:line; test_cfg_shapes/test_pdg_rules/test_defuse
prove each §2.4-2.6 rule). Edge identity = (pred, subj text+lines, obj
text+lines, label) — the identity the reference DOT output exposes
(cfg/node/CFGNode.java:175-188).

The fixture sources are read from FIXDIR, the reference's testcase
directory; they are not in this repository. Both modes walk the fixture
names in the golden file and exit non-zero, writing nothing, when any of
those sources is missing.

Usage:
    python scripts/pr_report.py              # report + write PR_REPORT.md
    python scripts/pr_report.py --freeze     # regenerate the golden file
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from propertygraph_spark.kernel.extract import extract_document

FIXDIR = "/root/reference/testcase"
GOLDEN_PATH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tests", "golden_edges.json")
REPORT_MD = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "PR_REPORT.md")

FAMILIES = ("ast_child", "cfg_normal", "cfg_true", "cfg_false", "cfg_jump",
            "pdg_control_true", "pdg_control_false", "pdg_data",
            "pdg_execution")


def edge_multiset(path: str) -> Counter:
    """{(pred, subj_text, subj_lines, obj_text, obj_lines, label): n}
    per fixture — node identity exactly as the reference DOT exposes."""
    with open(path) as f:
        src = f.read()
    nodes, triples, _mentions, err = extract_document(path, src)
    assert err is None, (path, err)
    ident = {}
    for n in nodes:
        ident[(n["method_id"], n["node_id"])] = (
            n["text"], n["start_line"], n["end_line"])
    out: Counter = Counter()
    for t in triples:
        s = ident[(t["method_id"], t["subj"])]
        o = ident[(t["method_id"], t["obj"])]
        key = (t["pred"], s[0], f"{s[1]}-{s[2]}", o[0], f"{o[1]}-{o[2]}",
               t["label"])
        out[key] += 1
    return out


def serialize(ms: Counter) -> list:
    return sorted([list(k) + [v] for k, v in ms.items()])


def deserialize(rows: list) -> Counter:
    return Counter({tuple(r[:-1]): r[-1] for r in rows})


def load_golden() -> dict:
    with open(GOLDEN_PATH) as f:
        return json.load(f)


def fixture_paths(names) -> list:
    """The source path of every golden fixture, in name order. Raises
    FileNotFoundError naming the missing files, so an absent corpus fails
    the gate instead of measuring nothing."""
    paths = [os.path.join(FIXDIR, name) for name in sorted(names)]
    missing = [p for p in paths if not os.path.isfile(p)]
    if missing:
        raise FileNotFoundError(
            f"{len(missing)} of {len(paths)} golden fixture sources "
            f"missing: {', '.join(missing)}")
    return paths


def compute(write_md: bool = True) -> dict:
    golden = {k: deserialize(v) for k, v in load_golden().items()}
    inter: Counter = Counter()
    got_n: Counter = Counter()
    want_n: Counter = Counter()
    for path in fixture_paths(golden):
        name = os.path.basename(path)
        got = edge_multiset(path)
        want = golden[name]
        both = got & want  # multiset intersection
        for key, n in got.items():
            got_n[key[0]] += n
        for key, n in want.items():
            want_n[key[0]] += n
        for key, n in both.items():
            inter[key[0]] += n
    report = {}
    for fam in FAMILIES:
        if want_n[fam] == 0 and got_n[fam] == 0:
            continue
        p = inter[fam] / got_n[fam] if got_n[fam] else 0.0
        r = inter[fam] / want_n[fam] if want_n[fam] else 0.0
        report[fam] = {"precision": round(p, 4), "recall": round(r, 4),
                       "got": got_n[fam], "want": want_n[fam],
                       "matched": inter[fam]}
    if write_md:
        lines = [
            "# P/R report — kernel vs frozen edge-level fixture goldens",
            "",
            "Target (BASELINE.md): precision and recall >= 0.95 per",
            "AST/CFG/PDG edge family over the reference's 11 fixture files.",
            "Golden provenance: every golden family is now",
            "reference-derived. tests/test_reference_traces.py freezes",
            "every fixture's FULL CFG/PDG edge set as constants derived",
            "from the reference rule trace, and (round 4)",
            "tests/test_reference_traces_ast.py derives the COMPLETE",
            "ast_child edge multiset of all 11 fixtures from the",
            "PEASTVisitor construction rules (text/span/children per",
            "node type, file:line-cited DSL — not exported from the",
            "kernel); PARITY.md hand-traces the def/use/dependence",
            "semantics. The frozen golden_edges.json is therefore a",
            "regression pin of reference-verified sets (the r4 trace",
            "caught and fixed a real span deviation: unbraced-else if",
            "ends anchored at the else keyword instead of the else",
            "statement). Regenerate with",
            "`python scripts/pr_report.py --freeze`;",
            "`tests/test_pr_report.py` gates every run at >= 0.95.",
            "",
            "| family | precision | recall | matched | emitted | golden |",
            "|---|---|---|---|---|---|",
        ]
        for fam, row in report.items():
            lines.append(
                f"| {fam} | {row['precision']:.4f} | {row['recall']:.4f} "
                f"| {row['matched']} | {row['got']} | {row['want']} |")
        with open(REPORT_MD, "w") as f:
            f.write("\n".join(lines) + "\n")
    return report


def freeze() -> None:
    """Regenerate the goldens for the fixtures they already name; refuses
    to write unless every one of those sources is present."""
    golden = {}
    for path in fixture_paths(load_golden()):
        golden[os.path.basename(path)] = serialize(edge_multiset(path))
    with open(GOLDEN_PATH, "w") as f:
        json.dump(golden, f, indent=0)
    print(f"froze {sum(len(v) for v in golden.values())} edge keys "
          f"across {len(golden)} fixtures -> {GOLDEN_PATH}")


if __name__ == "__main__":
    try:
        if "--freeze" in sys.argv:
            freeze()
            sys.exit(0)
        rep = compute()
    except FileNotFoundError as exc:
        sys.exit(f"FAIL: {exc}")
    # an empty report measured nothing: that is not a pass
    ok = bool(rep) and all(r["precision"] >= 0.95 and r["recall"] >= 0.95
                           for r in rep.values())
    print(json.dumps(rep, indent=2))
    print("PASS" if ok else "FAIL")
    sys.exit(0 if ok else 1)
