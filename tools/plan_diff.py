#!/usr/bin/env python3
"""Compare two `graft.tools.Explain` dumps query by query.

Usage:

    tools/plan_diff.py before.md after.md

Each dump is PLANS.md-shaped: `## <query>` then a fenced formatted
physical plan. Both sides are normalised for the tokens that change from
run to run with no change of plan: expression ids (`#123`), lambda
variable suffixes (`x_45`), JVM array addresses (`[[D@1a2b3c`), exchange
and subquery ids (`[id=#7]`), `plan_id=` tags and source line numbers
(`Similarity.scala:212`). Each query then reads

    identical   the normalised plans are equal
    alias-only  equal once column names and aliases are erased too: the
                operator tree, every expression and every column position
                are the same, only the names given to columns differ
    structural  anything else (an operator, a join side, a predicate, an
                expression or a column moved)
    missing     the query is in one dump only

A refactor that must not move plans reads no `structural` and no
`missing` row. The operator-multiset goldens (PLAN_FINGERPRINTS*.txt)
cannot see a filter or a join side move inside an unchanged multiset;
this check can. Exit status is 1 if any row is `structural` or
`missing`, else 0.
"""
import re
import sys

NORMALISE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"\b([xyz])_\d+\b"), r"\1_N"),
    (re.compile(r"(\[+[A-Za-z][\w.$;]*)@[0-9a-f]+"), r"\1@ADDR"),
    (re.compile(r"\[id=#?\d+\]"), "[id=N]"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:N"),
]
# an attribute as the formatted plan prints it, `name#N` after NORMALISE,
# and the alias that names a column (`<expr> AS name#N`)
ATTRIBUTE = re.compile(r"[A-Za-z_][\w.]*#N")
ALIAS = re.compile(r" AS _#N\w*")


def plans(path):
    """{query: plan text} of one dump, in file order."""
    out, name, body, fenced = {}, None, [], False
    with open(path) as fh:
        for line in fh:
            line = line.rstrip("\n")
            if not fenced and line.startswith("## "):
                name, body = line[3:].strip(), []
            elif name is not None and line.startswith("```"):
                if fenced:
                    out[name] = "\n".join(body)
                    name = None
                fenced = not fenced
            elif fenced:
                body.append(line)
    return out


def normalise(text):
    for pattern, repl in NORMALISE:
        text = pattern.sub(repl, text)
    return text


def unnamed(text):
    """The plan with every column name and alias erased."""
    return ALIAS.sub("", ATTRIBUTE.sub("_#N", text))


def classify(before, after):
    a, b = normalise(before), normalise(after)
    if a == b:
        return "identical"
    if unnamed(a) == unnamed(b):
        return "alias-only"
    return "structural"


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    before, after = plans(argv[1]), plans(argv[2])
    if not before or not after:
        sys.exit(f"plan_diff: no `## <query>` plans in {argv[1] if not before else argv[2]}")
    names = list(before) + [n for n in after if n not in before]
    counts = {}
    for name in names:
        verdict = (classify(before[name], after[name])
                   if name in before and name in after else "missing")
        counts[verdict] = counts.get(verdict, 0) + 1
        print(f"{name}\t{verdict}")
    print("# " + ", ".join(f"{v} {counts[v]}" for v in
                           ("identical", "alias-only", "structural", "missing") if v in counts))
    return 1 if counts.get("structural") or counts.get("missing") else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
