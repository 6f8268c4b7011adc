"""Generate QUERIES.md: one line per registry query — name, oracle
status, defining module, and the first docstring sentence.

    python tools/make_query_index.py

Run after adding queries (like tools/sync_doc_counts.py) so the index
can't drift from the live registry.
"""

from __future__ import annotations

import inspect
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.strip().split())
    m = re.match(r"(.+?\.)(\s|$)", text)
    s = m.group(1) if m else text
    return s if len(s) <= 220 else s[:217] + "…"


def main() -> None:
    from changegen_spark.queries import all_oracles, all_queries

    qs, oracles = all_queries(), all_oracles()
    lines = [
        "# QUERIES — the driver-contract registry, indexed",
        "",
        f"{len(qs)} queries, {len(oracles)} with DuckDB oracle twins "
        "(★ = oracle-backed, ○ = rows-only).  Generated by "
        "`tools/make_query_index.py`; run any entry with "
        "`python -m changegen_spark.queries <name>`.",
        "",
        "| query | | module | what it does |",
        "|---|---|---|---|",
    ]
    for name, fn in qs.items():
        target = inspect.unwrap(fn)
        modname = getattr(target, "__module__", "") or ""
        mod = modname.replace("changegen_spark.queries.", "")
        mark = "★" if name in oracles else "○"
        desc = first_sentence(target.__doc__)
        if not desc:
            # fall back to the defining module's summary — several short
            # queries are documented at module level
            moddoc = getattr(sys.modules.get(modname), "__doc__", None)
            s = first_sentence(moddoc)
            desc = f"*(module)* {s}" if s else ""
        lines.append(f"| `{name}` | {mark} | {mod} | {desc} |")
    with open(os.path.join(REPO, "QUERIES.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote QUERIES.md ({len(qs)} rows)")


if __name__ == "__main__":
    main()
