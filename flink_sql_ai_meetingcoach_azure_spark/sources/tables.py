"""Names of the deterministic testdata tables (TESTDATA.md: one
``<name>.parquet`` per table in each scale-factor directory);
``queries._t`` reads them."""

from __future__ import annotations

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
