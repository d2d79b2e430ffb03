"""HTTP serving edge (reference api/server.py): four chart endpoints.

Flask is import-gated (not guaranteed in this environment); the same four
endpoints are also exposed as a plain WSGI app so any server can mount it.
"""

from __future__ import annotations

import json
import logging

from pyspark.sql import SparkSession

from .data_service import DataService

ROUTES = {
    "/api/var": "get_var_data",
    "/api/il": "get_il_data",
    "/api/mev": "get_mev_data",
    "/api/transfers": "get_transfer_data",
}

log = logging.getLogger(__name__)


def wsgi_app(spark: SparkSession):
    """Minimal WSGI callable serving the four endpoints as JSON; a route
    that raises answers 500 with ``{"error": "<Type>: <msg>", "route"}``."""
    service = DataService(spark)

    def app(environ, start_response):
        path = environ.get("PATH_INFO", "")
        if path not in ROUTES:
            start_response("404 Not Found", [("Content-Type", "application/json")])
            return [b'{"error": "not found"}']
        try:
            payload = getattr(service, ROUTES[path])()
            status = "200 OK"
        except Exception as exc:
            log.exception("route %s failed", path)
            payload = {"error": f"{type(exc).__name__}: {exc}", "route": path}
            status = "500 Internal Server Error"
        body = json.dumps(payload).encode("utf-8")
        start_response(status, [("Content-Type", "application/json"),
                                ("Content-Length", str(len(body)))])
        return [body]

    return app


def create_flask_app(spark: SparkSession):  # pragma: no cover - optional dep
    try:
        from flask import Flask, jsonify
    except ImportError as exc:
        raise NotImplementedError(
            "flask is not installed in this environment; use wsgi_app()"
        ) from exc

    app = Flask(__name__)
    service = DataService(spark)
    for path, method in ROUTES.items():
        app.add_url_rule(
            path, endpoint=method,
            view_func=(lambda m=method: jsonify(getattr(service, m)())),
        )
    return app
