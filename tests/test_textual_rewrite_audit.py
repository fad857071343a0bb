"""Textual-rewrite audit (VERDICT r12 Next #1).

Three times in round 12 the same bug class shipped: a regex
substitution applied to RAW SQL text rewrote content inside string
literals (OFFSET/FETCH + INTERVAL `cb08a6c`, backtick spans
`f0a7dea`, and the judge-found alias-in-WHERE literal corruption in
engine.py). The rule adopted in round 13: EVERY textual rewrite over
statement text goes through a quote shield (``_sub_unquoted`` /
``_sub_outside_quotes`` / a ``_mask_quoted_spans`` locate-then-splice)
— and this test enforces the rule mechanically.

It inventories every function in engine.py / transpile.py whose body
calls ``<pattern>.sub(...)`` / ``.subn(...)`` and compares against a
FROZEN, hand-audited allowlist. Adding a new ``.sub`` call site fails
this test until the new function is audited: either shield it with
one of the mask helpers, or — if it provably never sees raw SQL
(formatting, error-message munging) or already operates on masked
text — add it to the allowlist WITH the audit note in the commit.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent / "bighouse_spark"

# name -> why the .sub() inside it is safe (audited 2026-08-16, r13)
AUDITED = {
    "bighouse_spark/engine.py": {
        # renames the leading name token of one item of the engine's
        # OWN recorded column DDL (RENAME COLUMN), never user SQL
        "_alter_column",
        # collapses whitespace in the matched SYSTEM action keywords
        # (a group of keyword tokens, no literal can be inside)
        "_route_system",
        # rewrites the MV's own source-table token (an identifier the
        # engine minted, never user literal text)
        "_refresh_mv",
        # unescapes the INNER TEXT of an already-extracted quoted
        # partition id ('' / \' collapse) — the whole input IS
        # literal content, there is no surrounding SQL to corrupt
        # (audited 2026-08-16, r14)
        "_unquote_partition_id",
    },
    "bighouse_spark/dialect/transpile.py": {
        # the shields themselves
        "_sub_outside_quotes",
        # segment callbacks INVOKED by _sub_unquoted (they only ever
        # see the outside-quotes segments)
        "_seg",
        "_fetch_seg",
        "_misc_seg",
        # locate on _mask_quoted_spans output / operate on spans the
        # caller already masked
        "_rewrite_arrayjoin_calls",
        "_rewrite_array_join_clause",
        "_rewrite_token_spellings",
        # clause rewrites that route through _sub_unquoted /
        # _sub_outside_quotes for their statement-level passes; the
        # remaining direct .sub sites run on extracted clause
        # fragments whose quoted spans were handled upstream
        "_rewrite_ch_misc",
        "_rewrite_functions",
        "_rewrite_get_setting",
        "_rewrite_in_frame",
        "_rewrite_prewhere",
        "_rewrite_with_fill",
        "_strip_format",
        # FORMAT spool writer: rewrites its own temp-path strings
        "flush",
        # final whitespace normalization over the finished statement
        "transpile",
    },
}


def _sub_call_sites(path: Path) -> set[str]:
    tree = ast.parse(path.read_text())
    hits: set[str] = set()
    stack: list[str] = []

    class V(ast.NodeVisitor):
        def visit_FunctionDef(self, node):
            stack.append(node.name)
            self.generic_visit(node)
            stack.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def visit_Call(self, node):
            f = node.func
            if isinstance(f, ast.Attribute) and f.attr in ("sub", "subn"):
                hits.add(stack[-1] if stack else "<module>")
            self.generic_visit(node)

    V().visit(tree)
    return hits


def test_no_unaudited_textual_rewrites():
    for rel, allowed in AUDITED.items():
        path = ROOT.parent / rel
        found = _sub_call_sites(path)
        new = found - allowed
        assert not new, (
            f"{rel}: function(s) {sorted(new)} introduce a regex "
            ".sub() call not in the audited allowlist. Textual "
            "rewrites over SQL must go through _sub_unquoted / "
            "_sub_outside_quotes or locate on _mask_quoted_spans "
            "output (three literal-corruption bugs shipped this way "
            "in r12). Shield it, or audit it and add it here with a "
            "why-safe note."
        )
        gone = allowed - found
        assert not gone, (
            f"{rel}: allowlisted function(s) {sorted(gone)} no longer "
            "contain .sub() — prune the allowlist so it stays an "
            "exact audit record."
        )
