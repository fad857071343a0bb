"""Textual-rewrite audit (VERDICT r12 Next #1).

Three times in round 12 the same bug class shipped: a regex
substitution applied to RAW SQL text rewrote content inside string
literals (OFFSET/FETCH + INTERVAL `cb08a6c`, backtick spans
`f0a7dea`, and the judge-found alias-in-WHERE literal corruption in
engine.py). The rule adopted in round 13: EVERY textual rewrite over
statement text goes through a quote shield (``_sub_unquoted`` /
``_sub_outside_quotes`` / a ``dialect.lexer.mask`` locate-then-splice)
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
        # decode the content of ONE quoted span the lexer delimited
        # (a "…" identifier, a pattern/name literal argument): the
        # whole input is span content, no surrounding SQL
        "_rewrite_double_quoted_identifiers",
        "_literal_text",
        # _qualify_toplevel's callback: runs only on the gaps between
        # quoted spans, comments and subqueries
        "qualify",
        # segment callbacks INVOKED by _sub_unquoted (they only ever
        # see the outside-quotes segments)
        "_seg",
        "_fetch_seg",
        "_misc_seg",
        # locate on lexer.mask output / operate on spans the
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
            "_sub_outside_quotes or locate on dialect.lexer.mask "
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


# One quote rule: only ``dialect/lexer.py`` scans SQL for quoted spans.
# A function elsewhere that loops over text testing a character
# against a quote-bearing string constant (``c == "'"``,
# ``c in "'\"`"``) is a hand-written quote tracker, the bug class that
# let ``\'`` and comments desync five scanners. Frozen allowlist:
# literal DECODERS only — each strips one known quote pair from a
# value the lexer (or the wire protocol) already delimited; none of
# them scans SQL.
LEXER = "bighouse_spark/dialect/lexer.py"
QUOTE_DECODERS = {
    # one ``[...]`` array parameter element: strips the element's own
    # quote pair before rendering it as a typed literal
    ("bighouse_spark/dialect/transpile.py", "_render_param"),
}
_QUOTE_CHARS = set("'\"`")


def _quote_trackers(path: Path, rel: str) -> set[tuple[str, str]]:
    tree = ast.parse(path.read_text())
    hits: set[tuple[str, str]] = set()

    def quote_const(node: ast.AST) -> bool:
        return (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and bool(_QUOTE_CHARS & set(node.value))
        )

    def char_vs_quote(node: ast.AST) -> bool:
        if not isinstance(node, ast.Compare):
            return False
        ops = [node.left, *node.comparators]
        return any(quote_const(o) for o in ops) and any(
            isinstance(o, (ast.Name, ast.Subscript)) for o in ops
        )

    def own_nodes(node: ast.AST):
        # a nested def is reported under its own name
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            yield child
            yield from own_nodes(child)

    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        for loop in own_nodes(fn):
            if isinstance(loop, (ast.For, ast.While)) and any(
                char_vs_quote(n) for n in own_nodes(loop)
            ):
                hits.add((rel, fn.name))
                break
    return hits


def _package_quote_trackers() -> set[tuple[str, str]]:
    found: set[tuple[str, str]] = set()
    for path in sorted(ROOT.rglob("*.py")):
        rel = str(path.relative_to(ROOT.parent))
        if rel != LEXER:
            found |= _quote_trackers(path, rel)
    return found


def test_quote_state_lives_in_the_lexer():
    found = _package_quote_trackers()
    new = found - QUOTE_DECODERS
    assert not new, (
        f"{sorted(new)} track quote state by hand. Scan a "
        "dialect.lexer.mask() copy and slice the raw text, or ask "
        "lexer.spans()/in_span()/close_paren()/split_top_level()."
    )
    gone = QUOTE_DECODERS - found
    assert not gone, (
        f"allowlisted decoder(s) {sorted(gone)} no longer loop over "
        "quote characters; prune the allowlist."
    )


def test_quote_tracker_detector_sees_the_old_loops(tmp_path):
    # the detector must flag the shape every ported scanner had
    src = tmp_path / "m.py"
    src.write_text(
        "def scan(s, i):\n"
        "    depth, quote = 0, None\n"
        "    while i < len(s):\n"
        "        c = s[i]\n"
        "        if quote:\n"
        "            quote = None if c == quote else quote\n"
        "        elif c in \"'\\\"\":\n"
        "            quote = c\n"
        "        i += 1\n"
        "def decode(v):\n"
        "    return v[1:-1] if v[0] in \"'\\\"\" else v\n"
        "def walk(s):\n"
        "    for c in s:\n"
        "        if s.strip('`') == c:\n"
        "            pass\n"
    )
    assert _quote_trackers(src, "m.py") == {("m.py", "scan")}
