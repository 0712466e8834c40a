"""Read-only catalog admin server (M7 twin of the reference's Flask-Admin).

The reference mounts a Flask-Admin UI over its SQLAlchemy models so a user
can browse each module's tables in a browser
(``reference src/bio2bel/manager/flask_manager.py:21-128``). The Spark-native
twin serves the SAME browsing surface over the :class:`~bio2bel_spark.
catalog.Catalog` — table list, row pages, per-table stats, and the Action
provenance log — as JSON from the Python stdlib ``http.server`` (no Flask
dependency; this container has none, and a query engine's admin surface
should not pull in a web framework).

Read-only by design: the reference admin's edit affordances are an artifact
of Flask-Admin's ModelView defaults, not a Bio2BEL workflow — population is
the CLI's job (M2). Every endpoint caps its row transfer (``limit`` ≤
``MAX_PAGE``), so pointing a browser at a 100 TB table costs one
``limit(n).collect()``, never a full scan; pagination is offset-free
keyset-style via the caller's own predicate pushdown (pass ``where=`` —
a WHITELISTED predicate grammar of columns/literals/comparisons/
IN/LIKE/IS NULL/AND/OR/NOT, compiled structurally so arbitrary SQL
expressions never execute; Catalyst pushes the compiled predicate to the
parquet scan).

Endpoints::

    GET /                      {tables: [...], n_actions: N}
    GET /tables                ["events", ...]
    GET /table/<name>?limit=&where=   {rows: [...], schema: [...]}
    GET /stats/<name>          table_stats() rows (per-file zone maps)
    GET /actions?limit=        provenance log, newest first

Start with :func:`serve_catalog` (returns the live server; call
``.shutdown()`` when done) — the in-process threading server makes the
surface testable without sockets guesswork.
"""

from __future__ import annotations

import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Optional
from urllib.parse import parse_qs, unquote, urlparse

from pyspark.sql import Column
from pyspark.sql import functions as F

#: hard per-request row cap — the admin is a browser, not an export path
MAX_PAGE = 1000


class WhereError(ValueError):
    """Raised when a ``where=`` predicate falls outside the whitelisted
    grammar."""


_WHERE_TOKEN = re.compile(
    r"""\s*(?:
        (?P<string>'(?:[^']|'')*')
      | (?P<number>-?\d+(?:\.\d+)?)
      | (?P<ident>[A-Za-z_][A-Za-z0-9_]*)
      | (?P<op><>|!=|<=|>=|==|[=<>(),])
    )""",
    re.VERBOSE,
)

_KEYWORDS = {"AND", "OR", "NOT", "IS", "NULL", "IN", "LIKE", "TRUE", "FALSE"}


def _where_tokens(text: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(text):
        m = _WHERE_TOKEN.match(text, pos)
        if m is None or m.end() == pos:
            rest = text[pos:].strip()
            if not rest:
                break
            raise WhereError(f"cannot tokenize where= at {rest[:25]!r}")
        pos = m.end()
        kind = m.lastgroup
        val = m.group(kind)
        if kind == "ident" and val.upper() in _KEYWORDS:
            out.append(("kw", val.upper()))
        else:
            out.append((kind, val))
    out.append(("eof", ""))
    return out


class _WhereParser:
    """Whitelisted predicate grammar for the admin's ``where=`` param:
    columns, literals, comparisons, [NOT] IN / LIKE / IS NULL, AND/OR/NOT,
    parentheses — compiled structurally into a Column (``F.col``/``F.lit``
    composition), so arbitrary Spark SQL expressions (``reflect()``,
    ``java_method()`` and friends) can never reach the engine: an
    identifier followed by ``(`` is a parse error, and only identifiers
    naming actual table columns resolve. This whitelist — not the
    loopback-default bind — is the injection boundary."""

    def __init__(self, tokens, columns):
        self.toks = tokens
        self.i = 0
        self.columns = set(columns)

    def peek(self):
        return self.toks[self.i]

    def next(self):
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, kind, val=None):
        k, v = self.next()
        if k != kind or (val is not None and v != val):
            raise WhereError(f"expected {val or kind}, got {v!r}")
        return v

    def parse(self) -> Column:
        c = self.parse_or()
        if self.peek()[0] != "eof":
            raise WhereError(f"trailing input at {self.peek()[1]!r}")
        return c

    def parse_or(self) -> Column:
        left = self.parse_and()
        while self.peek() == ("kw", "OR"):
            self.next()
            left = left | self.parse_and()
        return left

    def parse_and(self) -> Column:
        left = self.parse_not()
        while self.peek() == ("kw", "AND"):
            self.next()
            left = left & self.parse_not()
        return left

    def parse_not(self) -> Column:
        if self.peek() == ("kw", "NOT"):
            self.next()
            return ~self.parse_not()
        return self.parse_predicate()

    def parse_predicate(self) -> Column:
        if self.peek() == ("op", "("):
            self.next()
            inner = self.parse_or()
            self.expect("op", ")")
            return inner
        left = self.parse_operand()
        kind, v = self.next()
        if kind == "op" and v in ("=", "==", "!=", "<>", "<", "<=", ">", ">="):
            right = self.parse_operand()
            return {
                "=": left == right, "==": left == right,
                "!=": left != right, "<>": left != right,
                "<": left < right, "<=": left <= right,
                ">": left > right, ">=": left >= right,
            }[v]
        if (kind, v) == ("kw", "IS"):
            negate = False
            if self.peek() == ("kw", "NOT"):
                self.next()
                negate = True
            self.expect("kw", "NULL")
            return left.isNotNull() if negate else left.isNull()
        negate = False
        if (kind, v) == ("kw", "NOT"):
            negate = True
            kind, v = self.next()
        if (kind, v) == ("kw", "IN"):
            self.expect("op", "(")
            vals = [self.parse_literal()]
            while self.peek() == ("op", ","):
                self.next()
                vals.append(self.parse_literal())
            self.expect("op", ")")
            cond = left.isin(*vals)
            return ~cond if negate else cond
        if (kind, v) == ("kw", "LIKE"):
            tok_kind, pat = self.next()
            if tok_kind != "string":
                raise WhereError("LIKE needs a quoted pattern")
            cond = left.like(_unquote_sql(pat))
            return ~cond if negate else cond
        raise WhereError(f"expected a comparison, got {v!r}")

    def parse_operand(self) -> Column:
        kind, v = self.peek()
        if kind == "ident":
            self.next()
            if v not in self.columns:
                raise WhereError(f"unknown column {v!r}")
            if self.peek() == ("op", "("):
                raise WhereError("function calls are not allowed in where=")
            return F.col(v)
        return F.lit(self.parse_literal())

    def parse_literal(self):
        kind, v = self.next()
        if kind == "string":
            return _unquote_sql(v)
        if kind == "number":
            return float(v) if "." in v else int(v)
        if (kind, v) == ("kw", "TRUE"):
            return True
        if (kind, v) == ("kw", "FALSE"):
            return False
        if (kind, v) == ("kw", "NULL"):
            return None
        raise WhereError(f"expected a literal, got {v!r}")


def _unquote_sql(s: str) -> str:
    return s[1:-1].replace("''", "'")


def parse_where(where: str, columns) -> Column:
    """Compile a whitelisted ``where=`` predicate into a Column (see
    :class:`_WhereParser` for the grammar and the security rationale)."""
    return _WhereParser(_where_tokens(where), columns).parse()


def _json_rows(df, limit: int) -> list[dict]:
    rows = df.limit(min(int(limit), MAX_PAGE)).collect()
    out = []
    for r in rows:
        d = r.asDict(recursive=True)
        out.append({k: (str(v) if not _jsonable(v) else v) for k, v in d.items()})
    return out


def _jsonable(v) -> bool:
    if v is None or isinstance(v, (bool, int, float, str)):
        return True
    if isinstance(v, list):
        return all(_jsonable(x) for x in v)
    if isinstance(v, dict):
        return all(_jsonable(x) for x in v.values())
    return False


class _Handler(BaseHTTPRequestHandler):
    catalog = None  # set by serve_catalog

    def log_message(self, fmt, *args):  # noqa: D102 — silence stdlib logging
        pass

    def _send(self, payload, status: int = 200) -> None:
        body = json.dumps(payload).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):  # noqa: N802 — http.server contract
        cat = self.catalog
        try:
            url = urlparse(self.path)
            q = parse_qs(url.query)
            limit = int(q.get("limit", ["50"])[0])
            parts = [p for p in url.path.split("/") if p]
            if not parts:
                return self._send(
                    {
                        "tables": sorted(cat.list_tables()),
                        "n_actions": cat.count_actions(),
                    }
                )
            if parts[0] == "tables":
                return self._send(sorted(cat.list_tables()))
            if parts[0] == "table" and len(parts) == 2:
                name = unquote(parts[1])
                if not cat.table_exists(name):
                    return self._send({"error": f"no table {name!r}"}, 404)
                df = cat.read_table(name)
                where = q.get("where", [None])[0]
                if where:
                    # whitelisted predicate grammar compiled structurally —
                    # never raw-string where() (expression injection would
                    # reach JVM reflection builtins); Catalyst still pushes
                    # the compiled predicate to the scan
                    try:
                        df = df.where(parse_where(where, df.columns))
                    except WhereError as exc:
                        return self._send({"error": str(exc)}, 400)
                return self._send(
                    {
                        "table": name,
                        "schema": [
                            {"name": f.name, "type": f.dataType.simpleString()}
                            for f in df.schema.fields
                        ],
                        "rows": _json_rows(df, limit),
                    }
                )
            if parts[0] == "stats" and len(parts) == 2:
                name = unquote(parts[1])
                if not cat.table_exists(name):
                    return self._send({"error": f"no table {name!r}"}, 404)
                return self._send(_json_rows(cat.table_stats(name), limit))
            if parts[0] == "actions":
                return self._send(_json_rows(cat.actions(), limit))
            return self._send({"error": "unknown endpoint"}, 404)
        except Exception as exc:  # noqa: BLE001 — surface, don't kill server
            return self._send({"error": str(exc)[:500]}, 500)


def serve_catalog(
    catalog, host: str = "127.0.0.1", port: int = 0
) -> ThreadingHTTPServer:
    """Start the read-only admin server over ``catalog`` on a daemon thread.

    ``port=0`` binds an ephemeral port (read it from
    ``server.server_address[1]``). Returns the live server; call
    ``server.shutdown()`` to stop. Requests run Spark jobs on the catalog's
    session from the handler threads — Spark sessions are thread-safe for
    concurrent job submission, and every endpoint is bounded
    (``MAX_PAGE``-capped collect or metadata-only), so the admin can sit
    next to production jobs without a resource footprint.
    """
    handler = type("_BoundHandler", (_Handler,), {"catalog": catalog})
    server = ThreadingHTTPServer((host, port), handler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server


def main(argv: Optional[list] = None) -> int:
    """``python -m bio2bel_spark.admin [--warehouse DIR] [--port N]`` — the
    CLI twin of the reference's ``web`` command (flask_manager.py:117-128)."""
    import argparse

    from bio2bel_spark.catalog import Catalog
    from bio2bel_spark.session import get_spark

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--warehouse", default=None)
    p.add_argument("--host", default="127.0.0.1")
    p.add_argument("--port", type=int, default=5000)
    args = p.parse_args(argv)
    spark = get_spark(warehouse=args.warehouse)
    server = serve_catalog(
        Catalog(spark, args.warehouse), host=args.host, port=args.port
    )
    print(f"admin serving on http://{args.host}:{server.server_address[1]}")
    try:
        threading.Event().wait()
    except KeyboardInterrupt:
        server.shutdown()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
