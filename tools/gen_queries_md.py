"""Generate QUERIES.md: one line per queries() entry, in ``queries.py``
definition order -- name, oracle kind, and the first sentence of its
docstring -- the index a reviewer reads before the code. Deterministic
output (a new CORRECTNESS artifact reorders ``queries()`` but not this
index); rerun after adding entries:

    python tools/gen_queries_md.py          # writes QUERIES.md in place

(It used to print to stdout only; two regeneration runs piped to
/dev/null silently left the committed file stale, so the tool now
writes the file itself. ``tests/test_docs_current.py`` guards the
staleness.)
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry  # noqa: E402


def first_sentence(doc: str | None) -> str:
    if not doc:
        return "(see implementation)"
    text = " ".join(line.strip() for line in doc.strip().splitlines())
    m = re.search(r"(.+?[.!?])(\s|$)", text)
    s = m.group(1) if m else text
    # literal pipes (join-notation docstrings) would split the md cell;
    # escape BEFORE truncating so the 220-char budget is what lands in
    # the cell (escaping after could push escaped pipes past the cut)
    return re.sub(r"\s+", " ", s).replace("|", "\\|")[:220]


def render() -> str:
    qs = entry._defined()
    oracles = entry.oracle_sql()
    lines = [
        "# QUERIES — the full `queries()` surface",
        "",
        f"{len(qs)} entries: {len(oracles)} oracle-paired "
        "(value-attested vs DuckDB), the rest rows-only by design "
        "(seeded-hash / sketch / iterative families with pytest twins), "
        "in `queries.py` definition order. Generated by "
        "`tools/gen_queries_md.py`.",
        "",
        "| # | entry | oracle | what it computes |",
        "|---|---|---|---|",
    ]
    for i, (name, fn) in enumerate(qs.items(), 1):
        kind = "SQL" if name in oracles else "rows-only"
        lines.append(
            f"| {i} | `{name}` | {kind} | {first_sentence(fn.__doc__)} |"
        )
    return "\n".join(lines) + "\n"


def main() -> None:
    out = os.path.join(REPO, "QUERIES.md")
    content = render()
    with open(out, "w") as f:
        f.write(content)
    print(f"wrote {out} ({content.count(chr(10))} lines)", file=sys.stderr)


if __name__ == "__main__":
    main()
