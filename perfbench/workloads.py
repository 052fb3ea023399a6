"""Seeded GraphQL request streams for the serving benchmark.

Each workload is an odd number of GraphQL documents replayed in equal
shares, round-robin, so that the median falls inside one document's
latency cluster rather than in the gap between two. Every document is a
multi-field dashboard: several top-level cube fields, aliases, nested
dimension sub-fields, metric-scoped filters and ordered ``options``.
Every field sorts on a total order, so a response's bytes are a
function of its request alone.

* ``dash_variants`` binds fresh variable values on every request, drawn
  from the seed and never repeated within a run (warm-up included), so
  every field misses the engine's compiled-plan cache.
* ``export_wide`` sends its documents verbatim; each returns thousands
  of rows, so response shaping and JSON encoding carry real weight
  while the plan cache stays hot.

Only the variable bindings depend on the seed; the documents and their
order are fixed.
"""

from __future__ import annotations

import datetime
import json
import random
from dataclasses import dataclass
from typing import Callable, Iterator, Optional

# ----------------------------------------------------------- dash_variants

FLAG_REVENUE = """
query FlagRevenue($since: String = "1996-01-01", $till: String = "1998-12-31",
                  $minDisc: Float = 0.05, $maxQty: Float = 40) {
  byFlag: sales(shipdate: {gteq: $since, lteq: $till},
                options: {desc: ["revenue", "returnflag", "linestatus"],
                          limit: 6}) {
    returnflag linestatus count revenue
    discounted: revenue(discount: {gteq: $minDisc})
  }
  byYear: sales(shipdate: {gteq: $since, lteq: $till},
                quantity: {lteq: $maxQty},
                options: {asc: ["shipped.year"], limit: 10}) {
    shipped: shipdate { year } quantity maxPrice: max_price
  }
}"""

BRAND_LEADERS = """
query BrandLeaders($since: String = "1997-01-01", $maxDisc: Float = 0.04,
                   $top: Int = 8, $status: String = "F",
                   $minPrice: Float = 20000) {
  leaders: sales(shipdate: {gteq: $since}, discount: {lteq: $maxDisc},
                 options: {desc: ["revenue", "brand"], limit: $top}) {
    brand revenue count
  }
  pricey: sales(linestatus: $status, extendedprice: {gteq: $minPrice},
                options: {asc: ["returnflag"], limit: 3}) {
    returnflag quantity returned: count(discount: {gteq: 0.05})
  }
}"""

ACTIVITY = """
query Activity($type: String = "purchase", $since: String = "2024-01-03",
               $minValue: Float = 120) {
  daily: events(event_type: $type, ts: {gteq: $since},
                options: {asc: ["ts.day"], limit: 31}) {
    ts { day } count users maxValue: max_value
  }
  heavy: events(value: {gteq: $minValue},
                options: {desc: ["cnt", "user_id"], limit: 10}) {
    user_id cnt: count last: last_value
  }
}"""

# ------------------------------------------------------------- export_wide

USER_LEDGER = """
query UserLedger {
  ledger: events(options: {asc: ["user_id", "event_type"], limit: 10000}) {
    user_id event_type count maxValue: max_value last: last_value
  }
  types: events(options: {asc: "event_type", limit: 5}) { event_type users }
}"""

DAILY_FLAGS = """
query DailyFlags($since: String = "1999-06-01") {
  daily: sales(shipdate: {gteq: $since},
               options: {asc: ["day.date", "returnflag"], limit: 10000}) {
    day: shipdate { date } returnflag count revenue
  }
  flags: sales(options: {asc: "returnflag", limit: 3}) { returnflag quantity }
}"""

SUPPLIER_BOOK = """
query SupplierBook($disc: Float = 0.05) {
  book: sales(discount: $disc,
              options: {asc: ["suppname", "linestatus"], limit: 10000}) {
    suppname linestatus count revenue maxPrice: max_price
  }
  status: sales(discount: $disc, options: {asc: "linestatus", limit: 2}) {
    linestatus count
  }
}"""


# ------------------------------------------------------- variable drawing

def _day(rng: random.Random, first: str, span_days: int) -> str:
    d = datetime.date.fromisoformat(first)
    return (d + datetime.timedelta(days=rng.randrange(span_days))).isoformat()


def _flag_revenue(rng: random.Random) -> dict:
    since = _day(rng, "1995-01-02", 1200)
    till = (datetime.date.fromisoformat(since)
            + datetime.timedelta(days=rng.randrange(365, 1100))).isoformat()
    return {"since": since, "till": till,
            "minDisc": rng.randrange(1, 10) / 100,
            "maxQty": float(rng.randrange(10, 51))}


def _brand_leaders(rng: random.Random) -> dict:
    return {"since": _day(rng, "1995-01-02", 2000),
            "maxDisc": rng.randrange(1, 10) / 100,
            "top": rng.randrange(3, 13),
            "status": rng.choice(["F", "O"]),
            "minPrice": rng.randrange(500_000, 9_000_000) / 100}


def _activity(rng: random.Random) -> dict:
    return {"type": rng.choice(["click", "error", "purchase", "signup",
                                "view"]),
            "since": f"{_day(rng, '2024-01-01', 20)} "
                     f"{rng.randrange(24):02d}:{rng.randrange(60):02d}:00",
            "minValue": rng.randrange(5_000, 40_000) / 100}


@dataclass(frozen=True)
class Document:
    name: str
    text: str
    #: draws one variable binding; None → the document is sent verbatim
    draw: Optional[Callable[[random.Random], dict]] = None
    #: per top-level field, the variables it reads; each field's binding
    #: must be new within a run so the field misses the plan cache
    field_vars: tuple[tuple[str, ...], ...] = ()


@dataclass(frozen=True)
class Workload:
    name: str
    documents: tuple[Document, ...]


WORKLOADS = {
    "dash_variants": Workload(
        "dash_variants",
        (Document("flag_revenue", FLAG_REVENUE, _flag_revenue,
                  (("since", "till", "minDisc"),
                   ("since", "till", "maxQty"))),
         Document("brand_leaders", BRAND_LEADERS, _brand_leaders,
                  (("since", "maxDisc", "top"), ("status", "minPrice"))),
         Document("activity", ACTIVITY, _activity,
                  (("type", "since"), ("minValue",))))),
    "export_wide": Workload(
        "export_wide",
        (Document("user_ledger", USER_LEDGER),
         Document("daily_flags", DAILY_FLAGS),
         Document("supplier_book", SUPPLIER_BOOK))),
}


@dataclass(frozen=True)
class Request:
    index: int
    doc: int                 # index into the workload's documents
    variables: Optional[dict]
    body: bytes              # the exact POST body

    @property
    def key(self) -> str:
        """Identity of the response: document plus variable binding."""
        return f"{self.doc}:{json.dumps(self.variables, sort_keys=True)}"


def _body(doc: Document, variables: Optional[dict]) -> bytes:
    payload: dict = {"query": doc.text}
    if variables is not None:
        payload["variables"] = variables
    return json.dumps(payload, sort_keys=True).encode()


def stream(workload: Workload, seed: int) -> Iterator[Request]:
    """Endless request stream: passes of one request per document, in
    document order, so every run's cold first request is the same
    document. Documents with variables draw a binding from the seeded
    generator until every field's slice of it is new."""
    rng = random.Random(f"{workload.name}:{seed}")
    seen: set[tuple] = set()
    index = 0
    while True:
        for d, doc in enumerate(workload.documents):
            variables = None
            if doc.draw is not None:
                while True:
                    variables = doc.draw(rng)
                    keys = [(d, f, tuple(variables[v] for v in names))
                            for f, names in enumerate(doc.field_vars)]
                    if not seen.intersection(keys):
                        seen.update(keys)
                        break
            yield Request(index, d, variables, _body(doc, variables))
            index += 1
