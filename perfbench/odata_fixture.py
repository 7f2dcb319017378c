"""Strict, counting loopback OData service for the ``odata_ingest`` workload.

Serves two seeded entity sets from one process:

- ``/v4/Items``: OData v4 JSON (``value``, ``@odata.nextLink``,
  ``@odata.count``) with Int64 key, String, nullable String,
  Decimal(19,4), Double, Boolean, DateTimeOffset and Int32 columns;
- ``/v2/Orders``: OData v2 JSON (``d.results``, ``__metadata``,
  ``/Date(ms)/``, ``__next``, ``$inlinecount``), Int64 and Decimal
  values rendered as strings the way v2 services send them.

Paging is server-driven at ``PAGE_ROWS`` rows per page. The grammar is
strict: a ``$filter``, ``$select``, ``$orderby`` or system option the
service cannot evaluate is answered with HTTP 400, so a pushdown change
that the service does not understand fails loudly instead of reading as
a speed-up. Every distinct response body is memoized, so after one pass
the service's own cost is a dictionary lookup.

Requests are counted by kind (``metadata``, ``probe``: the bare
entity-set URL, ``count``: a ``$top=0`` count probe, ``data``: a page)
together with the bytes sent; ``GET /_stats`` returns the counters and
is itself not counted.

Run as a process::

    python3 perfbench/odata_fixture.py --data <rows.pkl> --threads 4

It prints ``PORT <n>`` on stdout once it listens and exits when its
stdin closes or on SIGTERM.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import pickle
import random
import re
import signal
import sys
import threading
from concurrent.futures import ThreadPoolExecutor
from decimal import Decimal
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import parse_qsl, urlencode, urlsplit

PAGE_ROWS = 1000
COUNTRIES = [f"C{i:02d}" for i in range(32)]
_EPOCH = dt.datetime(2020, 1, 1, tzinfo=dt.timezone.utc)

V4_COLUMNS = [
    # name, Edm type, Python kind used by the filter evaluator
    ("ItemID", "Edm.Int64", "int"),
    ("Name", "Edm.String", "str"),
    ("Note", "Edm.String", "str"),
    ("Price", "Edm.Decimal", "dec"),
    ("Score", "Edm.Double", "float"),
    ("Active", "Edm.Boolean", "bool"),
    ("Created", "Edm.DateTimeOffset", "ts"),
    ("Qty", "Edm.Int32", "int"),
    ("Country", "Edm.String", "str"),
    ("Category", "Edm.String", "str"),
]
V2_COLUMNS = [
    ("OrderID", "Edm.Int64", "int"),
    ("Customer", "Edm.String", "str"),
    ("Amount", "Edm.Decimal", "dec"),
    ("Placed", "Edm.DateTime", "ts"),
    ("Shipped", "Edm.Boolean", "bool"),
    ("Lines", "Edm.Int32", "int"),
]


def _edmx(version: int) -> str:
    def props(cols):
        out = []
        for name, edm, _ in cols:
            extra = ' Precision="19" Scale="4"' if edm == "Edm.Decimal" else ""
            null = ' Nullable="false"' if name in ("ItemID", "OrderID") else ""
            out.append(f'<Property Name="{name}" Type="{edm}"{null}{extra}/>')
        return "".join(out)

    if version == 4:
        return (
            '<?xml version="1.0" encoding="utf-8"?>'
            '<edmx:Edmx Version="4.0" xmlns:edmx="http://docs.oasis-open.org/odata/ns/edmx">'
            '<edmx:DataServices><Schema Namespace="Bench" xmlns="http://docs.oasis-open.org/odata/ns/edm">'
            f'<EntityType Name="Item"><Key><PropertyRef Name="ItemID"/></Key>{props(V4_COLUMNS)}</EntityType>'
            '<EntityContainer Name="C"><EntitySet Name="Items" EntityType="Bench.Item"/></EntityContainer>'
            "</Schema></edmx:DataServices></edmx:Edmx>"
        )
    return (
        '<?xml version="1.0" encoding="utf-8"?>'
        '<edmx:Edmx Version="1.0" xmlns:edmx="http://schemas.microsoft.com/ado/2007/06/edmx">'
        '<edmx:DataServices m:DataServiceVersion="2.0" '
        'xmlns:m="http://schemas.microsoft.com/ado/2007/08/dataservices/metadata">'
        '<Schema Namespace="BenchV2" xmlns="http://schemas.microsoft.com/ado/2009/11/edm">'
        f'<EntityType Name="Order"><Key><PropertyRef Name="OrderID"/></Key>{props(V2_COLUMNS)}</EntityType>'
        '<EntityContainer Name="C" m:IsDefaultEntityContainer="true">'
        '<EntitySet Name="Orders" EntityType="BenchV2.Order"/></EntityContainer>'
        "</Schema></edmx:DataServices></edmx:Edmx>"
    )


# -- seeded data -------------------------------------------------------------

def generate(seed: int, v4_rows: int, v2_rows: int) -> dict:
    """Typed rows for both entity sets plus the seeded filter literal.

    Every country holds exactly ``v4_rows // 32`` rows (remainder spread
    over the first countries), so the filter's selectivity, and with it
    the page count, is the same for every seed."""
    rnd = random.Random(seed)
    countries = [COUNTRIES[i % len(COUNTRIES)] for i in range(v4_rows)]
    rnd.shuffle(countries)
    cats = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    v4 = []
    for i in range(v4_rows):
        v4.append((
            i + 1,
            f"item-{rnd.randrange(10**9):09d}",
            None if rnd.random() < 0.2 else f"note {rnd.randrange(10**6)}",
            Decimal(rnd.randrange(0, 10**9)).scaleb(-4),
            round(rnd.uniform(-1000.0, 1000.0), 6),
            rnd.random() < 0.5,
            _EPOCH + dt.timedelta(seconds=rnd.randrange(0, 5 * 365 * 86400)),
            rnd.randrange(-10**6, 10**6),
            countries[i],
            cats[rnd.randrange(len(cats))],
        ))
    v2 = []
    for i in range(v2_rows):
        v2.append((
            10**12 + i,
            f"cust-{rnd.randrange(10**6):06d}",
            Decimal(rnd.randrange(0, 10**8)).scaleb(-4),
            _EPOCH + dt.timedelta(seconds=rnd.randrange(0, 5 * 365 * 86400)),
            rnd.random() < 0.3,
            rnd.randrange(1, 50),
        ))
    return {"v4": v4, "v2": v2, "filter_country": COUNTRIES[rnd.randrange(len(COUNTRIES))]}


def _json_v4(row) -> dict:
    out = {}
    for (name, _, kind), v in zip(V4_COLUMNS, row):
        if v is None:
            out[name] = None
        elif kind == "dec":
            out[name] = float(v)
        elif kind == "ts":
            out[name] = v.strftime("%Y-%m-%dT%H:%M:%SZ")
        else:
            out[name] = v
    return out


def _json_v2(row, base: str) -> dict:
    out = {"__metadata": {"uri": f"{base}/Orders({row[0]}L)", "type": "BenchV2.Order"}}
    for (name, _, kind), v in zip(V2_COLUMNS, row):
        if kind == "ts":
            out[name] = f"/Date({int(v.timestamp() * 1000)})/"
        elif kind == "dec" or (kind == "int" and name == "OrderID"):
            out[name] = str(v)  # v2 JSON sends Edm.Int64 / Edm.Decimal as strings
        else:
            out[name] = v
    return out


# -- strict $filter grammar ----------------------------------------------------

class BadRequest(Exception):
    pass


_TOKEN_RE = re.compile(
    r"\s*(?:(?P<str>'(?:[^']|'')*')|(?P<dt>datetime'[^']*')"
    r"|(?P<ts>\d{4}-\d{2}-\d{2}T[0-9:.]+(?:Z|[+-]\d{2}:\d{2})?)"
    r"|(?P<num>-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?[LlMmDd]?)"
    r"|(?P<id>[A-Za-z_][A-Za-z0-9_/]*)|(?P<p>[(),]))"
)
_CMP_OPS = {"eq", "ne", "gt", "ge", "lt", "le"}
_FUNCS = {4: {"contains", "startswith", "endswith"}, 2: {"substringof", "startswith", "endswith"}}


def _tokenize(expr: str) -> list[tuple[str, str]]:
    pos, out = 0, []
    while pos < len(expr):
        if expr[pos:].strip() == "":
            break
        m = _TOKEN_RE.match(expr, pos)
        if not m or m.end() == pos:
            raise BadRequest(f"unsupported $filter syntax at {expr[pos:pos + 20]!r}")
        kind = m.lastgroup
        out.append((kind, m.group(kind)))
        pos = m.end()
    return out


def _parse_ts(s: str) -> dt.datetime:
    t = dt.datetime.fromisoformat(s.replace("Z", "+00:00"))
    return t if t.tzinfo else t.replace(tzinfo=dt.timezone.utc)


class FilterParser:
    """Recursive descent over ``or`` / ``and`` / ``not`` / comparisons /
    string functions. Produces a predicate over a row dict keyed by
    column name; raises ``BadRequest`` on anything else."""

    def __init__(self, expr: str, columns: dict[str, str], version: int):
        self.toks = _tokenize(expr)
        self.i = 0
        self.columns = columns
        self.version = version

    def parse(self):
        pred = self._or()
        if self.i != len(self.toks):
            raise BadRequest(f"trailing tokens in $filter: {self.toks[self.i:]}")
        return pred

    def _peek(self, value=None):
        if self.i >= len(self.toks):
            return None
        tok = self.toks[self.i]
        if value is not None and tok[1] != value:
            return None
        return tok

    def _take(self, value=None):
        tok = self._peek(value)
        if tok is None:
            raise BadRequest(f"expected {value or 'token'} in $filter")
        self.i += 1
        return tok

    def _or(self):
        left = self._and()
        while self._peek("or"):
            self._take("or")
            right = self._and()
            left = (lambda a, b: lambda r: a(r) or b(r))(left, right)
        return left

    def _and(self):
        left = self._unary()
        while self._peek("and"):
            self._take("and")
            right = self._unary()
            left = (lambda a, b: lambda r: a(r) and b(r))(left, right)
        return left

    def _unary(self):
        if self._peek("not"):
            self._take("not")
            inner = self._unary()
            return lambda r: not inner(r)
        if self._peek("("):
            self._take("(")
            inner = self._or()
            self._take(")")
            return inner
        tok = self._peek()
        if tok and tok[0] == "id" and tok[1] in _FUNCS[self.version] and self.toks[self.i + 1:self.i + 2] == [("p", "(")]:
            return self._func()
        return self._comparison()

    def _column(self):
        kind, name = self._take()
        if kind != "id" or name not in self.columns:
            raise BadRequest(f"unknown property in $filter: {name}")
        return name

    def _literal(self, col_kind: str):
        kind, text = self._take()
        if kind == "id" and text in ("true", "false") and col_kind == "bool":
            return text == "true"
        if kind == "id" and text == "null":
            return None
        if kind == "str" and col_kind == "str":
            return text[1:-1].replace("''", "'")
        if kind == "num" and col_kind in ("int", "float", "dec"):
            text = text.rstrip("LlMmDd")
            if col_kind == "int":
                try:
                    return int(text)
                except ValueError as e:
                    raise BadRequest(f"not an integer literal: {text}") from e
            return Decimal(text) if col_kind == "dec" else float(text)
        if col_kind == "ts" and kind == "ts" and self.version == 4:
            return _parse_ts(text)
        if col_kind == "ts" and kind == "dt" and self.version == 2:
            return _parse_ts(text[len("datetime'"):-1])
        raise BadRequest(f"literal {text!r} does not fit a {col_kind} property")

    def _comparison(self):
        col = self._column()
        kind, op = self._take()
        if kind != "id" or op not in _CMP_OPS:
            raise BadRequest(f"unsupported operator in $filter: {op}")
        lit = self._literal(self.columns[col])

        def pred(r, col=col, op=op, lit=lit):
            v = r[col]
            if lit is None or v is None:
                same = (v is None) == (lit is None)
                if op == "eq":
                    return same
                if op == "ne":
                    return not same
                return False
            return {
                "eq": v == lit, "ne": v != lit, "gt": v > lit,
                "ge": v >= lit, "lt": v < lit, "le": v <= lit,
            }[op]

        return pred

    def _func(self):
        name = self._take()[1]
        self._take("(")
        if name == "substringof":
            needle = self._literal("str")
            self._take(",")
            col = self._column()
        else:
            col = self._column()
            self._take(",")
            needle = self._literal("str")
        self._take(")")
        if self.columns[col] != "str" or not isinstance(needle, str):
            raise BadRequest(f"{name} needs a string property and literal")
        test = {
            "contains": lambda v: needle in v,
            "substringof": lambda v: needle in v,
            "startswith": lambda v: v.startswith(needle),
            "endswith": lambda v: v.endswith(needle),
        }[name]
        return lambda r: r[col] is not None and test(r[col])


# -- service -----------------------------------------------------------------

_ALLOWED = {"$filter", "$select", "$top", "$skip", "$orderby", "$count", "$inlinecount", "$format"}


class Service:
    def __init__(self, data: dict):
        self.sets = {
            "v4": ("Items", V4_COLUMNS, data["v4"]),
            "v2": ("Orders", V2_COLUMNS, data["v2"]),
        }
        self.memo: dict[str, tuple[int, bytes, dict]] = {}
        self.filtered: dict[tuple[str, str], list] = {}
        self.lock = threading.Lock()
        self.counts = {"metadata": 0, "probe": 0, "count": 0, "data": 0, "rejected": 0}
        self.bytes = 0
        self.rows_sent = 0

    def stats(self) -> dict:
        with self.lock:
            return {**self.counts, "bytes": self.bytes, "rows": self.rows_sent}

    def handle(self, target: str, base: str) -> tuple[int, bytes, dict, str, int]:
        """(status, body, headers, kind, rows) for one GET; memoized."""
        with self.lock:
            hit = self.memo.get(target)
        if hit is None:
            try:
                hit = self._compute(target, base)
            except BadRequest as e:
                body = json.dumps({"error": {"code": "400", "message": str(e)}}).encode()
                hit = (400, body, {"Content-Type": "application/json"}, "rejected", 0)
            with self.lock:
                self.memo[target] = hit
        status, body, headers, kind, rows = hit
        with self.lock:
            self.counts[kind] += 1
            self.bytes += len(body)
            self.rows_sent += rows
        return hit

    def _compute(self, target: str, base: str):
        parts = urlsplit(target)
        segs = [s for s in parts.path.split("/") if s]
        if len(segs) != 2 or segs[0] not in self.sets:
            return 404, b'{"error":{"code":"404"}}', {"Content-Type": "application/json"}, "rejected", 0
        ver_key, leaf = segs
        version = 4 if ver_key == "v4" else 2
        set_name, cols, rows = self.sets[ver_key]
        vh = {"OData-Version": "4.0"} if version == 4 else {"DataServiceVersion": "2.0"}
        if leaf == "$metadata":
            return 200, _edmx(version).encode(), {"Content-Type": "application/xml", **vh}, "metadata", 0
        if leaf != set_name:
            raise BadRequest(f"unknown entity set {leaf}")
        q = dict(parse_qsl(parts.query, keep_blank_values=True))
        unknown = [k for k in q if k.startswith("$") and k not in _ALLOWED]
        if unknown:
            raise BadRequest(f"unsupported system query options: {unknown}")
        if q.get("$format", "json") != "json":
            raise BadRequest("only $format=json is served")
        names = [c[0] for c in cols]
        kinds = {c[0]: c[2] for c in cols}
        select = names
        if "$select" in q:
            select = [s.strip() for s in q["$select"].split(",")]
            bad = [s for s in select if s not in kinds]
            if bad or not select:
                raise BadRequest(f"unknown $select properties: {bad}")
        if "$orderby" in q:
            keys = [s.strip() for s in q["$orderby"].split(",")]
            if keys != [names[0]] and keys != [f"{names[0]} asc"]:
                raise BadRequest("only $orderby on the entity key is served")
        matched = rows
        if "$filter" in q:
            key = (ver_key, q["$filter"])
            matched = self.filtered.get(key)
            if matched is None:
                pred = FilterParser(q["$filter"], kinds, version).parse()
                matched = [r for r in rows if pred(dict(zip(names, r)))]
                self.filtered[key] = matched
        try:
            skip = int(q.get("$skip", 0))
            top = int(q["$top"]) if "$top" in q else None
        except ValueError as e:
            raise BadRequest("$skip/$top must be integers") from e
        if skip < 0 or (top is not None and top < 0):
            raise BadRequest("$skip/$top must be non-negative")
        want_count = (version == 4 and q.get("$count") == "true") or (
            version == 2 and q.get("$inlinecount") == "allpages"
        )
        if "$count" in q and q["$count"] not in ("true", "false"):
            raise BadRequest("bad $count")
        if "$inlinecount" in q and q["$inlinecount"] not in ("allpages", "none"):
            raise BadRequest("bad $inlinecount")
        end = len(matched) if top is None else min(len(matched), skip + top)
        page = matched[skip:min(end, skip + PAGE_ROWS)]
        nxt = None
        if skip + PAGE_ROWS < end:
            nq = dict(q)
            nq["$skip"] = str(skip + PAGE_ROWS)
            if top is not None:
                nq["$top"] = str(top - PAGE_ROWS)
            nq.pop("$count", None)
            nq.pop("$inlinecount", None)
            nxt = f"{base}{parts.path}?{urlencode(nq)}"
        idx = [names.index(s) for s in select]
        if version == 4:
            values = []
            for r in page:
                full = _json_v4(r)
                values.append({names[i]: full[names[i]] for i in idx})
            doc = {"@odata.context": f"{base}/v4/$metadata#Items", "value": values}
            if want_count:
                doc["@odata.count"] = len(matched)
            if nxt:
                doc["@odata.nextLink"] = nxt
        else:
            results = []
            for r in page:
                full = _json_v2(r, f"{base}/v2")
                results.append({"__metadata": full["__metadata"], **{names[i]: full[names[i]] for i in idx}})
            d = {"results": results}
            if want_count:
                d["__count"] = str(len(matched))
            if nxt:
                d["__next"] = nxt
            doc = {"d": d}
        if not parts.query:
            kind = "probe"
        elif top == 0 and want_count:
            kind = "count"
        else:
            kind = "data"
        body = json.dumps(doc, separators=(",", ":")).encode()
        return 200, body, {"Content-Type": "application/json", **vh}, kind, len(page)


class _PoolServer(HTTPServer):
    """HTTP/1.1 server whose connections run on a bounded thread pool."""

    def __init__(self, addr, handler, threads: int):
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=threads)

    def process_request(self, request, client_address):
        self.pool.submit(self._serve, request, client_address)

    def _serve(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)


def make_server(service: Service, threads: int, port: int = 0) -> _PoolServer:
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def log_message(self, *args):
            pass

        def do_GET(self):  # noqa: N802
            if self.path.startswith("/_stats"):
                body = json.dumps(service.stats()).encode()
                status, headers = 200, {"Content-Type": "application/json"}
            else:
                base = f"http://{self.headers.get('Host', '127.0.0.1')}"
                status, body, headers, _, _ = service.handle(self.path, base)
            self.send_response(status)
            for k, v in headers.items():
                self.send_header(k, v)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    return _PoolServer(("127.0.0.1", port), Handler, threads)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True, help="pickle written by generate()")
    ap.add_argument("--threads", type=int, default=4)
    args = ap.parse_args()
    with open(args.data, "rb") as fh:
        data = pickle.load(fh)
    server = make_server(Service(data), max(1, args.threads))
    threading.Thread(target=server.serve_forever, daemon=True).start()
    print(f"PORT {server.server_address[1]}", flush=True)

    def stop(*_):
        server.shutdown()
        server.pool.shutdown(wait=False, cancel_futures=True)
        sys.exit(0)

    signal.signal(signal.SIGTERM, stop)
    sys.stdin.read()  # parent closes stdin (or dies) -> exit
    stop()


if __name__ == "__main__":
    main()
