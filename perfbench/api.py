"""The dashboard API, called in-process through ``wsgi_app``.

Every response is checked: status 200, the route's JSON key contract, and
values equal to the route's first response (for ``/api/transfers``, whose
hourly series follow the wall clock, the series must add up to the summary
instead).
"""

from __future__ import annotations

import json

ROUTES = ("/api/var", "/api/il", "/api/mev", "/api/transfers")
SPAN = {"/api/var": "var", "/api/il": "il", "/api/mev": "mev", "/api/transfers": "transfers"}
KEYS = {
    "/api/var": {"labels", "prices", "var_series", "cvar_series", "summary", "stress_test"},
    "/api/il": {"labels", "il_pct", "lp_values", "hold_values", "key_points", "config"},
    "/api/mev": {"blocks", "scores", "sandwich", "frontrun", "backrun", "colors", "summary"},
    "/api/transfers": {"labels", "erc20_vol", "erc721_cnt", "summary", "top_contracts"},
}
# /api/transfers fields that depend on the wall clock (hour buckets)
CLOCK_FIELDS = {"labels", "erc20_vol", "erc721_cnt"}


class ApiClient:
    """Calls ``wsgi_app`` routes and checks each response."""

    def __init__(self):
        self.first: dict[str, dict] = {}
        self.app = None

    def call(self, spark, route: str) -> tuple[str, dict]:
        from defi_etl_platform_sqlglot_implementation__spark.serving.server import wsgi_app

        if self.app is None or self.app[0] is not spark:
            self.app = (spark, wsgi_app(spark))
        status: list[str] = []
        body = b"".join(self.app[1]({"PATH_INFO": route, "REQUEST_METHOD": "GET"},
                                    lambda s, h: status.append(s)))
        return status[0], json.loads(body)

    def check(self, route: str, status: str, payload: dict) -> str | None:
        """None when the response meets the contract, else the reason."""
        if not status.startswith("200"):
            return f"{route}: status {status}"
        if set(payload) != KEYS[route]:
            return f"{route}: keys {sorted(payload)}"
        first = self.first.setdefault(route, payload)
        skip = CLOCK_FIELDS if route == "/api/transfers" else set()
        for k in KEYS[route] - skip:
            if payload[k] != first[k]:
                return f"{route}: {k} differs from the first response"
        if route == "/api/transfers":
            s = payload["summary"]
            if sum(payload["erc721_cnt"]) != s["erc721_transfers"]:
                return f"{route}: erc721_cnt does not add up to the summary"
            # each hourly volume is rounded to 0.01
            slack = 0.01 * (len(payload["erc20_vol"]) + 1)
            if abs(sum(payload["erc20_vol"]) - s["total_volume_eth"]) > slack:
                return f"{route}: erc20_vol does not add up to the summary"
        return None
