#!/usr/bin/env python3
"""Diff two ExplainDump outputs query by query, ignoring run-to-run noise.

    python3 tools/plan_diff.py PARENT.md CHANGE.md

Both files are `graft.tools.ExplainDump` outputs (`## <query>` headings,
each followed by a fenced plan tree). Before comparing, every plan is
normalized so that two dumps of the same code compare equal:

- expression ids (`id#6030L` -> `id#L`);
- exchange `[plan_id=N]`;
- object hash codes (`UnsafeArrayData@f1dd012b`) and JVM lambda class
  names (`Packing$$$Lambda$8598/0x00007f3885a8b0d0`);
- lambda variable names (`lambda y_28`, `x_27#6026`);
- temp paths (`file:/tmp/...`);
- AQE query-stage numbers (`ShuffleQueryStage 4`) and whole-stage-codegen
  ids (`*(7)`);
- the group order of a distinct aggregate's Expand. Spark numbers the
  distinct groups (`gid`) and lays out their columns in an order that
  follows expression ids, so one more id allocated by an earlier query
  reorders them. Each such plan is rewritten to one order: the group
  columns sorted by name, the groups numbered in the sorted order of
  their projections, and every `gid# = k` test and every list of the
  group columns in the plan renamed to match.

ExplainDump used to cut long lines at 157 characters and append `...`;
the cut falls at a different place once ids are normalized, so when
either side of a line is cut (a dump of older code), only the common
normalized prefix is compared.

ExplainDump also used to keep Spark's `spark.sql.debug.maxToStringFields`
cut of long field lists (`[a#1, b#2, ... 7 more fields]`). A line cut so
on one side only matches a whole line on the other when the shown text
is equal and each cut hides exactly as many fields as the whole line
holds in its place.

Prints a unified diff for each query whose normalized tree differs (or
that only one side has) and exits 1 if there is any, else 0.
"""
import difflib
import re
import sys

ELLIPSIS = "..."

_RULES = [
    # whole-stage-codegen ids: "*(7) Project" -> "*(N) Project"
    (re.compile(r"\*\(\d+\)"), "*(N)"),
    # AQE stages: "ShuffleQueryStage 4", "ResultQueryStage 5", ...
    (re.compile(r"\b(\w*QueryStage) \d+"), r"\1 N"),
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=N]"),
    # lambda variables are named <x>_<counter>: "lambda y_28", "x_27#6026"
    (re.compile(r"\blambda ([A-Za-z]\w*?)_\d+\b"), r"lambda \1_N"),
    (re.compile(r"\b([A-Za-z]{1,3})_\d+(?=#)"), r"\1_N"),
    # expression ids: "id_a#6030L" -> "id_a#L", "sig#5975" -> "sig#"
    (re.compile(r"#\d+"), "#"),
    # JVM lambda classes: "Packing$$$Lambda$8598/0x00007f3885a8b0d0"
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda$N"),
    # Object.toString hash codes: "UnsafeArrayData@f1dd012b"
    (re.compile(r"(?<=[\w$])@[0-9a-f]{1,8}(?![0-9A-Za-z])"), "@H"),
    # temp paths, up to the next delimiter (or the line cut, which stays)
    (re.compile(r"(?:file:)?/tmp/[^\s,\])]*?(?=\.\.\.$|[\s,\])]|$)"), "<tmp>"),
]


def normalize_line(line):
    for rx, repl in _RULES:
        line = rx.sub(repl, line)
    return line


def _split_top(text):
    """`text` split at the ", " separators outside any brackets."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(text):
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif depth == 0 and text.startswith(", ", i):
            parts.append(text[start:i])
            start = i + 2
    parts.append(text[start:])
    return parts


_EXPAND = re.compile(r"^(.*\bExpand )\[(\[.*\])\], \[(.*)\]$")
_GID_TEST = re.compile(r"\bgid# = (\d+)")


def normalize_expand_order(lines):
    """`lines` of one plan with each distinct-aggregate Expand (an output
    column named `gid#`) put in one group order; see the module doc."""
    lines = list(lines)
    for n, line in enumerate(lines):
        m = _EXPAND.match(line)
        if not m:
            continue
        rows = [_split_top(r[1:-1]) for r in _split_top(m.group(2))]
        out = _split_top(m.group(3))
        if "gid#" not in out or any(len(r) != len(out) for r in rows):
            continue
        g = out.index("gid#")
        cols = sorted(range(g), key=lambda i: out[i]) + list(range(g, len(out)))
        rows = [[r[i] for i in cols] for r in rows]
        # group 0 (the regular aggregates) stays first; the distinct
        # groups are numbered in the sorted order of their projections
        regular = [r for r in rows if r[g] == "0"]
        groups = sorted((r for r in rows if r[g] != "0"),
                        key=lambda r: r[:g] + r[g + 1:])
        gid = {r[g]: str(k) for k, r in enumerate(groups, 1)}
        rows = regular + [r[:g] + [gid[r[g]]] + r[g + 1:] for r in groups]
        old_keys = ", ".join(out[:g])
        new_keys = ", ".join(out[i] for i in cols[:g])
        for k, other in enumerate(lines):
            if k != n:
                other = _GID_TEST.sub(
                    lambda t: "gid# = " + gid.get(t.group(1), t.group(1)), other)
                lines[k] = other.replace(old_keys, new_keys) if g > 1 else other
        lines[n] = (m.group(1) + "[" + ", ".join("[" + ", ".join(r) + "]" for r in rows)
                    + "], [" + ", ".join(out[i] for i in cols) + "]")
    return lines


def parse(text):
    """{query: [normalized line, ...]} of an ExplainDump markdown file."""
    plans = {}
    name = None
    lines = None
    for raw in text.splitlines():
        if raw.startswith("## "):
            name = raw[3:].strip()
            lines = None
        elif raw.startswith("```") and name is not None:
            if lines is None:
                lines = []
            else:
                plans[name] = normalize_expand_order(lines)
                name = None
                lines = None
        elif lines is not None:
            lines.append(normalize_line(raw))
    return plans


def _cut(line):
    return line.endswith(ELLIPSIS)


def align_cut_lines(a, b):
    """Copies of `a` and `b` where each pair of lines that ExplainDump cut
    on either side is trimmed to the shortest cut prefix. The last
    (possibly partial) token before a cut is dropped first. A whole line
    shorter than that prefix stays whole, so it still differs."""
    if len(a) != len(b):
        return a, b
    a2, b2 = [], []
    for x, y in zip(a, b):
        cut = [_cut(x), _cut(y)]
        if any(cut):
            x, y = [re.sub(r"[^\s,()\[\]]*$", "", v[:-len(ELLIPSIS)]) if c else v
                    for v, c in zip((x, y), cut)]
            n = min(len(v) for v, c in zip((x, y), cut) if c)
            x, y = x[:n] + ELLIPSIS, y[:n] + ELLIPSIS
        a2.append(x)
        b2.append(y)
    return a2, b2


_FIELDS_CUT = re.compile(r"(?:, )?\.\.\. (\d+) more fields")


def _fields_cut_matches(cut, whole):
    """True when `whole` is `cut` with each `... N more fields` cut filled
    by N fields."""
    parts = _FIELDS_CUT.split(cut)
    texts, counts = parts[0::2], [int(n) for n in parts[1::2]]
    rx = "(?:, )?(.*?)".join(re.escape(t) for t in texts)
    m = re.fullmatch(rx, whole)
    return m is not None and all(
        len(_split_top(g)) == n for g, n in zip(m.groups(), counts))


def align_field_cuts(a, b):
    """Copies of `a` and `b` where a line whose field lists one side cut
    is replaced by the cut line on the other side when the two match
    (see `_fields_cut_matches`)."""
    if len(a) != len(b):
        return a, b
    a2, b2 = [], []
    for x, y in zip(a, b):
        cx, cy = bool(_FIELDS_CUT.search(x)), bool(_FIELDS_CUT.search(y))
        if cx and not cy and _fields_cut_matches(x, y):
            y = x
        elif cy and not cx and _fields_cut_matches(y, x):
            x = y
        a2.append(x)
        b2.append(y)
    return a2, b2


def diff_plans(parent, change):
    """[(query, [unified diff line, ...])] for every query whose normalized
    plan differs or that only one side has, in the parent's order (queries
    new in the change last)."""
    out = []
    names = list(parent) + [n for n in change if n not in parent]
    for name in names:
        a = parent.get(name)
        b = change.get(name)
        if a is None or b is None:
            side = "parent" if a is None else "change"
            out.append((name, [f"(missing in {side})"]))
            continue
        a, b = align_cut_lines(*align_field_cuts(a, b))
        if a != b:
            d = list(difflib.unified_diff(a, b, "parent/" + name,
                                          "change/" + name, lineterm=""))
            out.append((name, d))
    return out


def main(argv):
    if len(argv) != 3:
        print("usage: python3 tools/plan_diff.py PARENT.md CHANGE.md",
              file=sys.stderr)
        return 2
    with open(argv[1], encoding="utf-8") as f:
        parent = parse(f.read())
    with open(argv[2], encoding="utf-8") as f:
        change = parse(f.read())
    diffs = diff_plans(parent, change)
    for name, lines in diffs:
        print(f"## {name}")
        for line in lines:
            print(line)
        print()
    print(f"{len(diffs)} of {len(set(parent) | set(change))} queries differ")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
