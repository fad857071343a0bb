"""Statement-router audit — the match-and-reassemble class
(VERDICT r13 Next #2).

``tests/test_textual_rewrite_audit.py`` inventories ``.sub()`` calls;
round 13's one bug (the ``IN PARTITION`` fold) evaded it because it
was a ``.match()`` + f-string splice, not a ``.sub()``. This audit
closes that hole: it inventories EVERY regex ``match/search/
fullmatch/finditer/findall`` over the RAW statement text in
``engine.py`` and compares against a FROZEN allowlist.

The rule is that routers only see the masked copy: ``_route`` masks
each statement once (``dialect.lexer.mask``), every router matches
that copy, and groups are re-sliced from the raw text by span
(``BigHouseEngine._raw_groups``) — a keyword inside a string literal
can then never decide a route or a split point. The raw text is
spelled ``<x>.request.query`` / ``request.query``, a local alias of
it (``raw = stmt.request.query``), or a parameter some call in
``engine.py`` passes it to (``_attach_statement(m, query)``); all
three are followed here.

Adding a raw-text regex fails this test: match the masked copy
instead.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest

ENGINE = Path(__file__).resolve().parent.parent / "bighouse_spark" / "engine.py"

MASK_HELPERS = {"mask"}  # dialect.lexer.mask, both flavours
REGEX_METHODS = ("match", "search", "fullmatch", "finditer", "findall")

# (enclosing function, method, receiver, pattern-literal prefix).
ALLOWED: set[tuple] = set()

# 96 chars: round 14 found that at 28 two distinct ALTER TABLE
# routers collapsed to one key, letting a NEW router ship invisibly
# under an old entry's audit note — the prefix must be long enough
# that every distinct pattern gets its own allowlist row.
PAT_PREFIX = 96  # chars of a literal pattern kept in the site key


def _is_raw_query(node: ast.AST) -> bool:
    """``request.query`` or ``<anything>.request.query``."""
    if not (isinstance(node, ast.Attribute) and node.attr == "query"):
        return False
    v = node.value
    return (isinstance(v, ast.Name) and v.id == "request") or (
        isinstance(v, ast.Attribute) and v.attr == "request"
    )


def _is_mask_call(node: ast.AST) -> bool:
    return isinstance(node, ast.Call) and (
        (isinstance(node.func, ast.Name) and node.func.id in MASK_HELPERS)
        or (
            isinstance(node.func, ast.Attribute)
            and node.func.attr in MASK_HELPERS
        )
    )


def _functions(tree: ast.AST) -> list[ast.FunctionDef]:
    return [
        n for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]


def _own_nodes(fn: ast.AST):
    """Nodes of ``fn``'s body, not descending into nested defs."""
    stack = list(ast.iter_child_nodes(fn))
    while stack:
        n = stack.pop()
        yield n
        if not isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
            stack.extend(ast.iter_child_nodes(n))


def _raw_names(fn, raw_params: set[str]) -> set[str]:
    """Names bound to the raw text in ``fn``: its raw parameters and
    every local alias (``raw = stmt.request.query``, ``q = raw``)."""
    names = set(raw_params)
    changed = True
    while changed:
        changed = False
        for n in _own_nodes(fn):
            if isinstance(n, (ast.Assign, ast.AnnAssign, ast.NamedExpr)):
                value = n.value
                targets = (
                    n.targets if isinstance(n, ast.Assign) else [n.target]
                )
                if value is None or not _is_raw(value, names):
                    continue
                for t in targets:
                    if isinstance(t, ast.Name) and t.id not in names:
                        names.add(t.id)
                        changed = True
    return names


def _is_raw(node: ast.AST, names: set[str]) -> bool:
    return _is_raw_query(node) or (
        isinstance(node, ast.Name) and node.id in names
    )


def _mentions_raw(node: ast.AST, names: set[str]) -> bool:
    return any(_is_raw(n, names) for n in ast.walk(node))


def _param_names(fn) -> list[str]:
    return [a.arg for a in fn.args.posonlyargs + fn.args.args]


def _bound_offset(fn) -> int:
    """Positional offset of a call through ``self.``/``cls.``: 0 for a
    staticmethod, else 1 (the bound first parameter)."""
    static = any(
        isinstance(d, ast.Name) and d.id == "staticmethod"
        for d in fn.decorator_list
    )
    return 0 if static else 1


def _raw_params(tree: ast.AST) -> dict[ast.AST, set[str]]:
    """Per function, the parameters some call in the module passes the
    raw text to (positionally or by keyword), to a fixpoint."""
    fns = _functions(tree)
    by_name: dict[str, list] = {}
    for fn in fns:
        by_name.setdefault(fn.name, []).append(fn)
    params: dict[ast.AST, set[str]] = {fn: set() for fn in fns}
    changed = True
    while changed:
        changed = False
        for caller in fns:
            names = _raw_names(caller, params[caller])
            for call in _own_nodes(caller):
                if not isinstance(call, ast.Call):
                    continue
                f = call.func
                if isinstance(f, ast.Attribute) and isinstance(
                    f.value, ast.Name
                ) and f.value.id in ("self", "cls"):
                    callees, bound = by_name.get(f.attr, []), True
                elif isinstance(f, ast.Name):
                    callees, bound = by_name.get(f.id, []), False
                else:
                    continue
                for callee in callees:
                    pnames = _param_names(callee)
                    off = _bound_offset(callee) if bound else 0
                    hits = {
                        pnames[i + off]
                        for i, a in enumerate(call.args)
                        if i + off < len(pnames) and _is_raw(a, names)
                    } | {
                        k.arg for k in call.keywords
                        if k.arg in pnames and _is_raw(k.value, names)
                    }
                    if not hits <= params[callee]:
                        params[callee] |= hits
                        changed = True
    return params


def _raw_match_sites(path: Path) -> set[tuple]:
    tree = ast.parse(path.read_text())
    params = _raw_params(tree)
    sites: set[tuple] = set()
    for fn in _functions(tree):
        names = _raw_names(fn, params[fn])
        for node in _own_nodes(fn):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if not (isinstance(f, ast.Attribute) and f.attr in REGEX_METHODS):
                continue
            if not any(
                _mentions_raw(a, names) and not _is_mask_call(a)
                for a in node.args
            ):
                continue
            recv = ast.unparse(f.value)
            pat = ""
            if recv == "re" and node.args and isinstance(
                node.args[0], ast.Constant
            ) and isinstance(node.args[0].value, str):
                pat = node.args[0].value[:PAT_PREFIX]
            sites.add((fn.name, f.attr, recv, pat))
    return sites


def test_no_unaudited_raw_query_routers():
    found = _raw_match_sites(ENGINE)
    new = found - ALLOWED
    assert not new, (
        f"engine.py: raw-text regex site(s) {sorted(new)} not in the "
        "audited allowlist. A router whose pattern locates a keyword "
        "across free text will split inside a string literal (the r13 "
        "IN PARTITION bug class). Match the masked copy the router "
        "passes every handler and re-slice groups from the raw text "
        "via BigHouseEngine._raw_groups."
    )
    gone = ALLOWED - found
    assert not gone, (
        f"engine.py: allowlisted site(s) {sorted(gone)} no longer "
        "read the raw text — prune the allowlist so it stays an exact "
        "audit record."
    )


def test_audit_follows_aliases_and_parameters(tmp_path):
    # The three spellings of the raw text, and a masked match that
    # must stay invisible.
    src = tmp_path / "engine.py"
    src.write_text(
        "import re\n"
        "class E:\n"
        "    def _route(self, stmt, masked):\n"
        "        self._h(stmt.request.query, masked)\n"
        "        raw = stmt.request.query\n"
        "        re.match(r'^\\s*ALTER .+? WHERE', raw)\n"
        "        re.search('x', masked)\n"
        "    def _h(self, text, masked):\n"
        "        self._P.match(text)\n"
        "        re.match('y', mask(text, strings_only=True))\n"
        "    def _q(self, request):\n"
        "        re.match('z', request.query[3:])\n"
    )
    assert _raw_match_sites(src) == {
        ("_route", "match", "re", "^\\s*ALTER .+? WHERE"),
        ("_h", "match", "self._P", ""),
        ("_q", "match", "re", "z"),
    }


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


# The lifecycle also owns cancellation: the job group, queryID()'s
# id, the max_execution_time timer and the _inflight entry are set and
# undone by _run, and cancelled only through _cancel — one path for
# KILL QUERY and the watchdog, for every statement kind.
LIFECYCLE = {"_run", "_cancel"}
_DICT_WRITES = ("pop", "popitem", "clear", "update", "setdefault")


def _lifecycle_construct(node: ast.AST) -> str | None:
    if isinstance(node, ast.Attribute) and node.attr in (
        "setJobGroup", "cancelJobGroupAndFutureJobs",
    ):
        return node.attr
    if isinstance(node, ast.Attribute) and node.attr == "Timer":
        return "threading.Timer"
    if isinstance(node, ast.Name) and node.id == "set_current_query_id":
        return node.id
    if isinstance(node, ast.Subscript) and isinstance(
        node.ctx, (ast.Store, ast.Del)
    ) and ast.unparse(node.value).endswith("_inflight"):
        return "_inflight write"
    if isinstance(node, ast.Call) and isinstance(
        node.func, ast.Attribute
    ) and node.func.attr in _DICT_WRITES and ast.unparse(
        node.func.value
    ).endswith("_inflight"):
        return "_inflight write"
    return None


def _sites(path: Path, construct) -> list[tuple[str | None, str]]:
    """``(outermost enclosing function, construct(node))`` per node of
    ``path`` that ``construct`` names; a def nested in a method counts
    as that method."""
    sites = []

    def visit(node: ast.AST, owner: str | None) -> None:
        for child in ast.iter_child_nodes(node):
            own = owner
            if own is None and isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)
            ):
                own = child.name
            if what := construct(child):
                sites.append((own, what))
            visit(child, own)

    visit(ast.parse(path.read_text()), None)
    return sites


def test_cancellation_lives_in_the_lifecycle():
    sites = [
        (p.name, fn, what)
        for p in sorted(ENGINE.parent.rglob("*.py"))
        for fn, what in _sites(p, _lifecycle_construct)
    ]
    stray = [
        s for s in sites
        if s[1] not in LIFECYCLE or s[2] == "cancelJobGroupAndFutureJobs"
    ]
    assert not stray, (
        f"{stray}: job groups, the query id, the watchdog timer and "
        "_inflight writes belong to BigHouseEngine._run; cancel "
        "through BigHouseEngine._cancel. Sticky future-job cancel "
        "would fail a later statement reusing the query id."
    )
    # the detector sees every construct it guards
    assert {what for _p, _fn, what in sites} == {
        "setJobGroup", "set_current_query_id", "threading.Timer",
        "_inflight write",
    }


def test_transpile_never_writes_session_conf():
    # transpile() only RETURNS mapped SETTINGS: the session conf is
    # shared by every client, and a write there leaked one query's
    # knobs into every later statement. The engine scopes them.
    assert _method_calls(TRANSPILE, ("set", "unset"), "conf") == []


def _conf_write(node: ast.AST) -> str | None:
    if isinstance(node, ast.Attribute) and node.attr == "_conf_lock":
        return "_conf_lock"
    if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
        recv = ast.unparse(node.func.value)
        if node.func.attr in ("set", "unset", "setConfString") and (
            recv.endswith("conf")
        ):
            return f"{recv}.{node.func.attr}"
    return None


def test_statements_never_write_base_session_conf():
    # A statement's knobs live on its own statement session (_hold
    # writes only that clone's conf): the base conf is shared by every
    # client, and a write there is seen by every statement running
    # meanwhile. Only engine construction (CBO flags) and
    # attach_table's nanos fallback write it.
    assert _sites(ENGINE, _conf_write) == [
        ("__init__", "self.spark.conf.set"),
        ("attach_table", "self.spark.conf.set"),
        ("_hold", "jconf.setConfString"),
    ]


PACKAGE = ENGINE.parent
# Setting names the program gives a meaning to.
SETTING_NAMES = (
    "max_threads", "max_parallel_replicas", "max_download_threads",
    "max_result_rows", "result_overflow_mode", "max_execution_time",
    "use_query_cache", "exact_cityhash", "max_funnel_group_events",
    "network_compression_method",
)
# Built text that is a SET statement, or ends in a SETTINGS clause
# whose pairs are formatted in (``{}`` stands for a formatted part).
_SETTINGS_TEXT = re.compile(r"^\s*SET\s|\bSETTINGS\s*(?:\{\}|$)", re.I)
_SETTING_NAME = re.compile(rf"\b(?:{'|'.join(SETTING_NAMES)})\b")
_RE_CALLS = (
    "compile", "match", "search", "fullmatch", "finditer", "findall",
    "sub", "subn", "split",
)


def _built_text(node: ast.AST) -> str | None:
    """The text an f-string or a ``+``/``%`` chain with a string part
    builds, each formatted part spelled ``{}``; None for any other
    node."""
    if isinstance(node, ast.JoinedStr):
        return "".join(
            v.value if isinstance(v, ast.Constant) else "{}"
            for v in node.values
        )
    if isinstance(node, ast.BinOp) and isinstance(node.op, (ast.Add, ast.Mod)):
        parts = [
            n.value if isinstance(n, ast.Constant) and isinstance(n.value, str)
            else _built_text(n)
            for n in (node.left, node.right)
        ]
        if parts == [None, None]:
            return None
        return "".join("{}" if t is None else t for t in parts)
    return None


def _scoped(tree: ast.AST):
    """Every node with the name of the function it sits in."""
    stack = [(tree, "<module>")]
    while stack:
        node, fn = stack.pop()
        yield node, fn
        for child in ast.iter_child_nodes(node):
            stack.append((child, getattr(child, "name", fn) if isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)
            ) else fn))


def _settings_text_sites(root: Path) -> set[tuple[str, str, str]]:
    """``(file, function, what)`` of every site that builds SET /
    SETTINGS text, or whose regex names a setting."""
    sites = set()
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for node, fn in _scoped(ast.parse(path.read_text())):
            text = _built_text(node)
            if text is not None and _SETTINGS_TEXT.search(text):
                sites.add((rel, fn, "builds settings text"))
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and ast.unparse(node.func.value) == "re"
                and node.func.attr in _RE_CALLS
                and node.args
            ):
                pat = node.args[0]
                text = pat.value if isinstance(pat, ast.Constant) else (
                    _built_text(pat)
                )
                if isinstance(text, str) and _SETTING_NAME.search(text):
                    sites.add((rel, fn, "regex names a setting"))
    return sites


def test_settings_are_parsed_and_rendered_in_one_place():
    # Every channel hands the engine its settings as one init SET, and
    # session_settings holds the one parser and the one renderer:
    # splicing SET or SETTINGS text elsewhere, or reading a setting out
    # of the statement with a regex, is a second settings path.
    allowed = {
        ("session_settings.py", "set_statement", "builds settings text"),
    }
    sites = {
        s for s in _settings_text_sites(PACKAGE)
        if s[0] != "session_settings.py" or s[2] != "regex names a setting"
    }
    sites.discard(("dialect/transpile.py", "_settings_spans",
                   "regex names a setting"))
    assert sites == allowed


def test_settings_guard_sees_splices_and_regexes(tmp_path):
    (tmp_path / "wire.py").write_text(
        "import re\n"
        "def run(sql, k, v, pairs):\n"
        "    init = f'SET {k} = {v}'\n"
        "    q = sql + ' SETTINGS ' + pairs\n"
        "    ok = f'SELECT {k} FROM t'\n"
        "    re.search(r'use_query_cache\\s*=', sql)\n"
        "    re.search(r'settings_word', sql)\n"
    )
    assert _settings_text_sites(tmp_path) == {
        ("wire.py", "run", "builds settings text"),
        ("wire.py", "run", "regex names a setting"),
    }


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


# One example per dispatch-table key, plus the spellings that must
# NOT change route: case, leading whitespace, parenthesized and WITH
# queries, and comment-prefixed DDL (which the transpiler owns).
ROUTE_EXAMPLES = {
    "INSERT": ("INSERT INTO t VALUES (1)", "_route_insert"),
    "ALTER": ("ALTER TABLE t DELETE WHERE a = 'x'", "_route_alter"),
    "CREATE": ("CREATE TABLE t (a Int64) ENGINE = Memory", "_route_create"),
    "DROP": ("DROP TABLE t", "_route_drop"),
    "TRUNCATE": ("TRUNCATE TABLE t", "_route_drop"),
    "ATTACH": ("ATTACH TABLE t FROM '/tmp/t.parquet'", "_route_attach"),
    "DETACH": ("DETACH TABLE t", "_route_detach"),
    "UNDROP": ("UNDROP TABLE t", "_route_undrop"),
    "RENAME": ("RENAME TABLE a TO b", "_route_rename"),
    "EXCHANGE": ("EXCHANGE TABLES a AND b", "_route_rename"),
    "SHOW": ("SHOW PROCESSLIST", "_route_show"),
    "SYSTEM": ("SYSTEM FLUSH LOGS", "_route_system"),
    "KILL": ("KILL QUERY WHERE query_id = 'q1'", "_route_kill"),
    "EXISTS": ("EXISTS TABLE t", "_route_exists"),
    "CHECK": ("CHECK TABLE t", "_route_check"),
    "OPTIMIZE": ("OPTIMIZE TABLE t FINAL", "_route_optimize"),
    "ANALYZE": ("ANALYZE TABLE t COMPUTE STATISTICS", "_route_analyze"),
    "GRANT": ("GRANT SELECT ON *.* TO u", "_route_rbac"),
    "SET ROLE": ("SET ROLE r", "_route_rbac"),
    "SET": ("SET max_threads = 1, exact_cityhash = 1", "_route_set"),
    "REVOKE": ("REVOKE SELECT ON *.* FROM u", "_route_rbac"),
}
ROUTE_SPELLINGS = [
    ("select 1", "_route_query"),
    ("  \n\talter table t delete where 1", "_route_alter"),
    ("insert into t format CSV\n1,'INTO OUTFILE x'", "_route_insert"),
    ("(SELECT 1)", "_route_query"),
    ("WITH x AS (SELECT 1) SELECT * FROM x", "_route_query"),
    ("-- note\nALTER TABLE t DELETE WHERE 1", "_route_query"),
    ("/* c */ DROP TABLE t", "_route_query"),
    ("SET max_threads = 1", "_route_set"),
    ("SET  role r", "_route_rbac"),
]


def _routed(sql: str) -> str:
    """The router ``BigHouseEngine._route`` hands ``sql`` to, on an
    engine with no session (every router stubbed)."""
    from bighouse_spark.engine import BigHouseEngine, QueryRequest, _Statement

    eng = BigHouseEngine.__new__(BigHouseEngine)
    routers = {r for r, _kind in BigHouseEngine._ROUTES.values()}
    for r in routers | {"_route_query"}:
        setattr(eng, r, lambda stmt, masked, stream_to, r=r: r)
    return eng._route(_Statement(QueryRequest(sql)))


def test_every_route_has_an_example():
    from bighouse_spark.engine import BigHouseEngine

    assert set(ROUTE_EXAMPLES) == set(BigHouseEngine._ROUTES)


@pytest.mark.parametrize(
    "sql,router",
    list(ROUTE_EXAMPLES.values()) + ROUTE_SPELLINGS,
)
def test_statement_reaches_its_router(sql, router):
    assert _routed(sql) == router


def test_query_kind_is_the_dispatch_key():
    from bighouse_spark.engine import BigHouseEngine

    kinds = {
        BigHouseEngine._route_of(sql)[1]
        for sql, _r in list(ROUTE_EXAMPLES.values()) + ROUTE_SPELLINGS
    }
    assert kinds == {
        "Select", "Insert", "Alter", "Create", "Drop", "Undrop",
        "Rename", "Show", "System", "KillQuery", "Exists", "Check",
        "Optimize", "Grant", "Set", "Revoke",
    }
