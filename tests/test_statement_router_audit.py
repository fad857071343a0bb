"""Statement-router audit — the match-and-reassemble class
(VERDICT r13 Next #2).

``tests/test_textual_rewrite_audit.py`` inventories ``.sub()`` calls;
round 13's one bug (the ``IN PARTITION`` fold) evaded it because it
was a ``.match()`` + f-string splice, not a ``.sub()``. This audit
closes that hole: it inventories EVERY regex ``match/search/
fullmatch/finditer/findall`` over RAW ``request.query`` in
``engine.py`` and compares against a FROZEN allowlist of sites that
were hand-audited as literal-safe-by-shape.

A router is literal-safe-by-shape when its pattern is anchored
(``^\\s*KEYWORD ...``) and every variable-width span before the
groups is either a keyword alternation, a ``\\w``/charset-limited
identifier, or a trailing swallow (``(.*)$``): no free-text locator
(`` .+? KEYWORD ``) can skip OVER a string literal to find its
boundary. Routers that DO locate a keyword across free text —
mutations, INSERT payload splits, CTAS/MV/VIEW ``AS SELECT``, ATTACH
``FROM '<path>'``, the system.* rewrite — must match a
``_mask_string_literals`` copy and re-slice groups from the raw text
(``BigHouseEngine._raw_groups``); masked sites are invisible to this
inventory by design.

Adding a new raw-text router fails this test until it is audited:
either shield it with the mask, or — if it is safe-by-shape per the
rule above — add it here with the shape note.
"""

from __future__ import annotations

import ast
from pathlib import Path

ENGINE = Path(__file__).resolve().parent.parent / "bighouse_spark" / "engine.py"

MASK_HELPERS = {"_mask_string_literals", "_mask_quoted_spans"}

# (enclosing function, method, receiver, pattern-literal prefix) →
# audited 2026-08-16 (round 14). Shape notes inline.
ALLOWED = {
    # -- named router-table regexes: anchored keyword+identifier
    #    prefixes; free spans are trailing swallows or charset-
    #    limited (no quote can appear before the match is decided) --
    ("_execute_inner", "match", "self._ALTER_CLEAR_COLUMN_RE", ""),
    ("_execute_inner", "match", "self._ALTER_COLUMN_RE", ""),
    ("_execute_inner", "match", "self._ALTER_FREEZE_RE", ""),
    ("_execute_inner", "match", "self._ALTER_INDEX_RE", ""),
    ("_execute_inner", "match", "self._ALTER_PROJECTION_RE", ""),
    ("_execute_inner", "match", "self._ALTER_TTL_RE", ""),
    ("_execute_inner", "match", "self._ANALYZE_RE", ""),
    # terminal '([^']*)'$ — a doubled-quote comment fails LOUD
    ("_execute_inner", "match", "self._COMMENT_COLUMN_RE", ""),
    ("_execute_inner", "match", "self._CREATE_TABLE_HEAD_RE", ""),
    ("_execute_inner", "match", "self._DETACH_RE", ""),
    ("_execute_inner", "match", "self._DROP_DICT_RE", ""),
    # terminal partition value, $-anchored
    ("_execute_inner", "match", "self._DROP_PARTITION_RE", ""),
    # same shape: anchored keyword prefix, terminal partition value
    # (quoted with ''/\\ escapes or bare token), $-anchored
    # (audited 2026-08-16, r14)
    ("_execute_inner", "match", "self._DROP_DETACHED_RE", ""),
    # anchored; quoted/charset-limited value then FROM/TO TABLE
    # keyword + identifier + $ — no free span can cross a literal
    ("_execute_inner", "match", "self._PARTITION_FROM_RE", ""),
    ("_execute_inner", "match", "self._DROP_TRUNCATE_RE", ""),
    ("_execute_inner", "match", "self._DROP_VIEW_RE", ""),
    ("_execute_inner", "match", "self._EXCHANGE_RE", ""),
    ("_execute_inner", "match", "self._EXISTS_RE", ""),
    # fixed prefix, charset-limited col list, then keyword + payload
    ("_execute_inner", "match", "self._INSERT_FMT_RE", ""),
    # fixed prefix: the first literal IS the path by construction
    ("_execute_inner", "match", "self._INSERT_FN_RE", ""),
    ("_execute_inner", "match", "self._INSERT_TBL_RE", ""),
    # anchored; value then FINAL/DEDUPLICATE keywords then $
    ("_execute_inner", "match", "self._OPTIMIZE_RE", ""),
    ("_execute_inner", "match", "self._RENAME_RE", ""),
    ("_execute_inner", "match", "self._UNDROP_RE", ""),
    # -- inline re.* literals: all anchored fixed prefixes --
    ('_execute_inner', 'match', 're', '^(\\s*CREATE\\s+)OR\\s+REPLACE\\s+(TABLE\\s+[`\\"]?(\\w+))'),
    ("_execute_inner", "match", "re", "^\\s*(GRANT\\b|SET\\s+ROLE\\b)"),
    ('_execute_inner', 'match', 're', '^\\s*(REVOKE\\b|(?:CREATE|ALTER|DROP)\\s+(?:USER|ROLE|QUOTA|ROW\\s+POLICY|SETTINGS\\s+PROFILE)\\b)'),
    # ALTER ... MODIFY/RESET SETTING: prefix + tail swallow
    ('_execute_inner', 'match', 're', '^\\s*ALTER\\s+TABLE\\s+[`\\"]?(\\w+)[`\\"]?(?:\\s+ON\\s+CLUSTER\\s+\\S+)?\\s+(?:MODIFY|RESET)\\s+SETTING\\s+.'),
    # MATERIALIZE TTL: anchored keywords + $, no free span
    # (audited 2026-08-16, r14)
    ('_execute_inner', 'match', 're', '^\\s*ALTER\\s+TABLE\\s+[`\\"]?(\\w+)[`\\"]?(?:\\s+ON\\s+CLUSTER\\s+\\S+)?\\s+MATERIALIZE\\s+TTL\\s*$'),
    # MODIFY ORDER BY: terminal charset/paren-balanced key + $ —
    # unknown columns raise before any use (audited 2026-08-16, r14)
    ('_execute_inner', 'match', 're', '^\\s*ALTER\\s+TABLE\\s+[`\\"]?(\\w+)[`\\"]?(?:\\s+ON\\s+CLUSTER\\s+\\S+)?\\s+MODIFY\\s+ORDER\\s+BY\\s+(\\((?:[^'),
    # UNFREEZE: identifier + optional \S+ + terminal escaped-quoted
    # name + $
    ('_execute_inner', 'match', 're', '^\\s*ALTER\\s+TABLE\\s+[`\\"]?(\\w+)[`\\"]?(?:\\s+ON\\s+CLUSTER\\s+\\S+)?\\s+UNFREEZE(?:\\s+PARTITION\\s+(?:I'),
    # FETCH PARTITION guided refusal: prefix-only, raise-only
    ('_execute_inner', 'match', 're', '^\\s*ALTER\\s+TABLE\\s+[`\\"]?\\w+[`\\"]?(?:\\s+ON\\s+CLUSTER\\s+\\S+)?\\s+FETCH\\s+PARTITION\\b'),
    ('_execute_inner', 'match', 're', '^\\s*CHECK\\s+TABLE\\s+[`\\"]?([\\w.]+)[`\\"]?\\s*$'),
    ('_execute_inner', 'match', 're', '^\\s*EXISTS\\s+DATABASE\\s+[`\\"]?(\\w+)[`\\"]?\\s*$'),
    ("_execute_inner", "match", "re", "^\\s*KILL\\s+MUTATION\\b"),
    # terminal quoted query_id, $-anchored
    ('_execute_inner', 'match', 're', "^\\s*KILL\\s+QUERY\\s+WHERE\\s+query_id\\s*=\\s*'([^']+)'\\s*(?:SYNC|ASYNC)?\\s*$"),
    ('_execute_inner', 'match', 're', "^\\s*SHOW\\s+(CHANGED\\s+)?SETTINGS\\s+(?:(I)?LIKE\\s+)?'([^']*)'\\s*$"),
    ('_execute_inner', 'match', 're', '^\\s*SHOW\\s+(ROLES|QUOTAS|SETTINGS\\s+PROFILES|PROFILES)\\s*$'),
    ("_execute_inner", "match", "re", "^\\s*SHOW\\s+CLUSTERS\\s*$"),
    ('_execute_inner', 'match', 're', '^\\s*SHOW\\s+CREATE\\s+(?:TABLE\\s+)?[`\\"]?([\\w.]+)[`\\"]?\\s*$'),
    ("_execute_inner", "match", "re", "^\\s*SHOW\\s+CREATE\\s+DATABASE\\b"),
    ("_execute_inner", "match", "re", "^\\s*SHOW\\s+DICTIONARIES\\s*$"),
    ("_execute_inner", "match", "re", "^\\s*SHOW\\s+ENGINES\\s*$"),
    ("_execute_inner", "match", "re", "^\\s*SHOW\\s+GRANTS\\b"),
    ("_execute_inner", "match", "re", "^\\s*SHOW\\s+PROCESSLIST\\s*$"),
    ("_execute_inner", "match", "re", "^\\s*SHOW\\s+USERS\\s*$"),
    ('_execute_inner', 'match', 're', '^\\s*SYSTEM\\s+(FLUSH\\s+LOGS|DROP\\s+QUERY\\s+CACHE|RELOAD\\s+DICTIONAR(?:Y\\s+\\w+|IES)|DROP\\s+MARK\\s+'),
    # use_query_cache VALUE check: reads request.query at an offset
    # the masked locate produced — the slice starts outside any
    # literal by construction
    ("_execute_inner", "match", "re", "'?(1|true)\\b"),
}

# 96 chars: round 14 found that at 28 two distinct ALTER TABLE
# routers collapsed to one key, letting a NEW router ship invisibly
# under an old entry's audit note — the prefix must be long enough
# that every distinct pattern gets its own allowlist row.
PAT_PREFIX = 96  # chars of a literal pattern kept in the site key


def _mentions_request_query(node: ast.AST) -> bool:
    return any(
        isinstance(n, ast.Attribute)
        and n.attr == "query"
        and isinstance(n.value, ast.Name)
        and n.value.id == "request"
        for n in ast.walk(node)
    )


def _is_mask_call(node: ast.AST) -> bool:
    return isinstance(node, ast.Call) and (
        (isinstance(node.func, ast.Name) and node.func.id in MASK_HELPERS)
        or (
            isinstance(node.func, ast.Attribute)
            and node.func.attr in MASK_HELPERS
        )
    )


def _raw_match_sites(path: Path) -> set[tuple]:
    tree = ast.parse(path.read_text())
    stack: list[str] = []
    sites: set[tuple] = set()

    class V(ast.NodeVisitor):
        def visit_FunctionDef(self, node):
            stack.append(node.name)
            self.generic_visit(node)
            stack.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def visit_Call(self, node):
            f = node.func
            if isinstance(f, ast.Attribute) and f.attr in (
                "match", "search", "fullmatch", "finditer", "findall"
            ):
                if any(
                    _mentions_request_query(a) and not _is_mask_call(a)
                    for a in node.args
                ):
                    recv = ast.unparse(f.value)
                    pat = ""
                    if recv == "re" and node.args and isinstance(
                        node.args[0], ast.Constant
                    ) and isinstance(node.args[0].value, str):
                        pat = node.args[0].value[:PAT_PREFIX]
                    sites.add(
                        (stack[-1] if stack else "<module>",
                         f.attr, recv, pat)
                    )
            self.generic_visit(node)

    V().visit(tree)
    return sites


def test_no_unaudited_raw_query_routers():
    found = _raw_match_sites(ENGINE)
    new = found - ALLOWED
    assert not new, (
        f"engine.py: raw request.query regex site(s) {sorted(new)} "
        "not in the audited allowlist. A router whose pattern "
        "locates a keyword across free text will split inside a "
        "string literal (the r13 IN PARTITION bug class). Match a "
        "_mask_string_literals(request.query) copy and re-slice "
        "groups from the raw text via BigHouseEngine._raw_groups, "
        "or — if the pattern is anchored-prefix literal-safe — add "
        "it here with the shape note."
    )
    gone = ALLOWED - found
    assert not gone, (
        f"engine.py: allowlisted site(s) {sorted(gone)} no longer "
        "match raw request.query — prune the allowlist so it stays "
        "an exact audit record."
    )


TRANSPILE = ENGINE.parent / "dialect" / "transpile.py"


def _method_calls(path: Path, methods: tuple[str, ...], receiver: str):
    """Calls ``<x>.<method>(...)`` in ``path`` whose receiver's source
    text ends with ``receiver``."""
    return [
        ast.unparse(n)
        for n in ast.walk(ast.parse(path.read_text()))
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr in methods
        and ast.unparse(n.func.value).endswith(receiver)
    ]


def test_one_query_log_write():
    # The statement lifecycle (BigHouseEngine._run) owns the log:
    # handlers return their result and a label, and one site writes
    # the entry on success and on failure.
    writes = _method_calls(
        ENGINE, ("append", "appendleft", "extend", "insert"), "query_log"
    )
    assert len(writes) == 1, writes


def test_transpile_never_writes_session_conf():
    # transpile() only RETURNS mapped SETTINGS: the session conf is
    # shared by every client, and a write there leaked one query's
    # knobs into every later statement. The engine scopes them.
    assert _method_calls(TRANSPILE, ("set", "unset"), "conf") == []


def test_transpile_reads_files_only_through_read_source():
    # file()/s3()/url() sources go through sources.readers.read_source,
    # which owns the inferred-schema memo; a direct spark.read here
    # would skip it and pay a schema-inference job per statement.
    reads = [
        ast.unparse(n)
        for n in ast.walk(ast.parse(TRANSPILE.read_text()))
        if isinstance(n, ast.Attribute)
        and n.attr in ("read", "readStream")
        and ast.unparse(n.value).endswith("spark")
    ]
    assert reads == []
