from .queries import (
    CANONICAL_QUERIES,
    SWAP_PRICE_IMPACT_SQL,
    TRANSFER_VOLUME_SQL,
    block_range,
    build_block_range_query,
    run_canonical,
)
from .sqlutil import analyze_sql, validate_sql
from .transpiler import DIALECTS, transpile

__all__ = [
    "CANONICAL_QUERIES",
    "SWAP_PRICE_IMPACT_SQL",
    "TRANSFER_VOLUME_SQL",
    "block_range",
    "build_block_range_query",
    "run_canonical",
    "analyze_sql",
    "validate_sql",
    "DIALECTS",
    "transpile",
]
