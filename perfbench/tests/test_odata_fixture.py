"""The loopback OData service: strict grammar (400 on anything it cannot
evaluate), server-driven paging, and request counting by kind."""

from __future__ import annotations

import json
import threading
import urllib.error
import urllib.request
from urllib.parse import quote

import pytest

from perfbench import odata_fixture as fx


@pytest.fixture(scope="module")
def service():
    data = fx.generate(seed=3, v4_rows=2500, v2_rows=1200)
    svc = fx.Service(data)
    server = fx.make_server(svc, threads=2)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{server.server_address[1]}"
    yield svc, base, data
    server.shutdown()
    server.server_close()


def get(base, path, **q):
    query = "&".join(f"{k}={quote(str(v), safe='')}" for k, v in q.items())
    url = f"{base}{path}" + (f"?{query}" if query else "")
    try:
        with urllib.request.urlopen(url) as resp:
            return resp.status, json.loads(resp.read()) if "json" in resp.headers["Content-Type"] else None
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def rows_matching(data, pred):
    names = [c[0] for c in fx.V4_COLUMNS]
    return [r for r in data["v4"] if pred(dict(zip(names, r)))]


@pytest.mark.parametrize("expr, pred", [
    ("Country eq 'C05'", lambda r: r["Country"] == "C05"),
    ("Country ne null and Country eq 'C05'", lambda r: r["Country"] == "C05"),
    ("(Qty gt 0 and Active eq true) or Category eq 'beta'",
     lambda r: (r["Qty"] > 0 and r["Active"]) or r["Category"] == "beta"),
    ("Note eq null", lambda r: r["Note"] is None),
    ("not (Category eq 'alpha') and Category ne null", lambda r: r["Category"] != "alpha"),
    ("startswith(Name, 'item-1')", lambda r: r["Name"].startswith("item-1")),
    ("contains(Note, '12')", lambda r: r["Note"] is not None and "12" in r["Note"]),
    ("Score le -500.5", lambda r: r["Score"] <= -500.5),
    ("ItemID ge 2400", lambda r: r["ItemID"] >= 2400),
    ("Created lt 2021-01-01T00:00:00Z", lambda r: r["Created"].year < 2021),
])
def test_filter_grammar_matches_python_predicate(service, expr, pred):
    _, base, data = service
    want = rows_matching(data, pred)
    status, doc = get(base, "/v4/Items", **{"$filter": expr, "$count": "true", "$top": "0"})
    assert status == 200
    assert doc["@odata.count"] == len(want)


@pytest.mark.parametrize("params", [
    {"$filter": "Country eq 'C05' xor Qty gt 1"},        # unknown operator
    {"$filter": "tolower(Name) eq 'x'"},                 # unsupported function
    {"$filter": "Nope eq 1"},                            # unknown property
    {"$filter": "Qty eq 'text'"},                        # literal of the wrong type
    {"$filter": "Country eq 'C05"},                      # unterminated literal
    {"$select": "ItemID,Nope"},                          # unknown $select property
    {"$orderby": "Name"},                                # $orderby off the key
    {"$expand": "Orders"},                               # unsupported system option
    {"$apply": "groupby((Country))"},
    {"$top": "ten"},
    {"$format": "xml"},
])
def test_unsupported_requests_get_400(service, params):
    svc, base, _ = service
    before = svc.stats()["rejected"]
    status, doc = get(base, "/v4/Items", **params)
    assert status == 400 and doc["error"]["code"] == "400"
    assert svc.stats()["rejected"] == before + 1


def test_connector_filters_are_understood(service):
    """Every predicate shape the connector's translator emits parses."""
    from pyspark.sql.datasource import (
        EqualTo, GreaterThan, In, IsNotNull, IsNull, LessThanOrEqual, Not, StringContains,
        StringEndsWith, StringStartsWith,
    )

    from erpl_web_spark.odata.filters import translate_filters

    _, base, _ = service
    filters = [
        EqualTo(("Country",), "C01"), Not(EqualTo(("Category",), "beta")),
        In(("Category",), ("alpha", "gamma")), IsNull(("Note",)), IsNotNull(("Name",)),
        GreaterThan(("Qty",), -5), LessThanOrEqual(("Score",), 10.5),
        StringStartsWith(("Name",), "item-"), StringEndsWith(("Name",), "7"),
        StringContains(("Name",), "12"),
    ]
    for f in filters:
        expr, pushed, _ = translate_filters([f], 4)
        assert pushed, f
        status, _ = get(base, "/v4/Items", **{"$filter": expr, "$top": "1"})
        assert status == 200, expr


def test_server_driven_paging_and_counting(service):
    svc, base, data = service
    before = svc.stats()
    status, doc = get(base, "/v4/Items", **{"$skip": "500", "$top": "1700", "$orderby": "ItemID"})
    ids = [r["ItemID"] for r in doc["value"]]
    pages = 1
    while "@odata.nextLink" in doc:
        with urllib.request.urlopen(doc["@odata.nextLink"]) as resp:
            doc = json.loads(resp.read())
        ids += [r["ItemID"] for r in doc["value"]]
        pages += 1
    assert ids == list(range(501, 2201))
    assert pages == 2
    status, _ = get(base, "/v4/$metadata")
    assert status == 200
    get(base, "/v4/Items")                                     # bare URL: the version probe
    get(base, "/v4/Items", **{"$count": "true", "$top": "0"})  # count probe
    after = svc.stats()
    delta = {k: after[k] - before[k] for k in after}
    assert (delta["data"], delta["metadata"], delta["probe"], delta["count"]) == (2, 1, 1, 1)
    assert delta["rows"] == 1700 + fx.PAGE_ROWS


def test_v2_shape(service):
    _, base, data = service
    status, doc = get(base, "/v2/Orders", **{"$inlinecount": "allpages", "$select": "OrderID,Placed"})
    d = doc["d"]
    assert status == 200 and d["__count"] == str(len(data["v2"]))
    first = d["results"][0]
    assert set(first) == {"__metadata", "OrderID", "Placed"}
    assert first["OrderID"] == str(data["v2"][0][0])  # Edm.Int64 travels as a string in v2
    assert first["Placed"].startswith("/Date(") and "__next" in d


def test_filter_selectivity_is_seed_independent():
    counts = set()
    for seed in range(4):
        data = fx.generate(seed, 3200, 10)
        counts.add(sum(1 for r in data["v4"] if r[8] == data["filter_country"]))
    assert counts == {100}
