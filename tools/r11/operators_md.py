#!/usr/bin/env python3
"""Generate docs/OPERATORS.md — the per-query user index (dev tool only;
round-10 verdict stretch item #8). Sources of truth: SURVEY.md §2 (the
what/how columns) and the `"<key>" -> ((s, dir) =>` registration sites
in src/main/scala (the entry points). Rerun after adding a query; the
SurveySpec staleness check keeps §2 complete, so this stays complete.

Usage: python3 tools/r11/operators_md.py
"""
import pathlib
import re
import subprocess

ROOT = pathlib.Path(__file__).resolve().parent.parent.parent
OUT = ROOT / "docs" / "OPERATORS.md"


def survey_rows():
    text = (ROOT / "SURVEY.md").read_text()
    sec = text[text.index("## §2"):text.index("## §3")]
    rows = {}
    for line in sec.splitlines():
        # the first cell may carry one key or a "q23_a / q24_b" pair
        m = re.match(r"\|\s*(q\d+[\w/ ]*?)\s*\|", line)
        if not m:
            continue
        cells = [c.strip() for c in line.strip().strip("|").split(" | ")]
        if len(cells) >= 3:
            for key in re.findall(r"q\d+_[a-z0-9_]+", cells[0]):
                rows[key] = (cells[1], cells[2])
    return rows


def entry_points():
    out = subprocess.run(
        ["grep", "-rn", '-E', r'"q[0-9]+_[a-z0-9_]+" -> \(\(s',
         str(ROOT / "src/main/scala/graft")],
        capture_output=True, text=True).stdout
    eps = {}
    # the file alone, no line number: a line number goes stale with every
    # edit above the registration, anywhere in the file
    for line in out.splitlines():
        m = re.match(r"(.*?):\d+:\s*\"(q\d+_[a-z0-9_]+)\"", line)
        if m:
            eps[m.group(2)] = str(pathlib.Path(m.group(1)).relative_to(ROOT))
    return eps


def first_sentence(s):
    # the op column's headline: text before the first parenthetical or dash
    s = re.sub(r"\[\[|\]\]", "", s)
    cut = len(s)
    for sep in [" (", " — ", "; "]:
        i = s.find(sep)
        if 0 < i < cut:
            cut = i
    return s[:cut].strip()


def scale_brief(s, limit=170):
    # the how column keeps its first clause whole (parentheticals and
    # dashes are part of the contract), trimmed at a word boundary
    s = re.sub(r"\[\[|\]\]", "", s)
    i = s.find("; ")
    if i > 0:
        s = s[:i]
    if len(s) > limit:
        s = s[:limit].rsplit(" ", 1)[0] + " …"
    return s.strip()


def main():
    rows = survey_rows()
    eps = entry_points()
    lines = [
        "# Operator index",
        "",
        "One row per driver query (the library surface a user calls):",
        "what it answers, where the code lives, and the scale contract",
        "in brief. Full discussion: SURVEY.md §2 (kept in lockstep by",
        "SurveySpec) and the scaladoc at each entry point. Generated by",
        "`tools/r11/operators_md.py` — edit that, not this.",
        "",
        "| query | answers | entry | scale contract |",
        "|---|---|---|---|",
    ]
    def qnum(k):
        return int(re.match(r"q(\d+)", k).group(1))
    for key in sorted(rows, key=qnum):
        what, how = rows[key]
        ep = eps.get(key, "?")
        lines.append(
            f"| {key} | {first_sentence(what)} | {ep} | {scale_brief(how)} |")
    missing = set(eps) - set(rows)
    if missing:
        raise SystemExit(f"queries without a SURVEY row: {sorted(missing)}")
    # the inverse direction too (round-11 advice): a SURVEY row whose
    # registration site the grep regex fails to match would silently
    # render '?' in the entry column — that's a generator bug or a
    # renamed/moved registration, never acceptable output
    unmatched = set(rows) - set(eps)
    if unmatched:
        raise SystemExit(
            f"SURVEY rows with no grep-matched entry point (would render "
            f"'?'): {sorted(unmatched)}")
    OUT.parent.mkdir(exist_ok=True)
    OUT.write_text("\n".join(lines) + "\n")
    print(f"wrote {OUT} ({len(rows)} queries)")


if __name__ == "__main__":
    main()
