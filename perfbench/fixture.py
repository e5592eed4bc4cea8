"""Benchmark input: a committed copy of the engine's sf0.01 test tables
(``fixture/sf0.01``, 1.9 MB of parquet), so every run reads the same
bytes the oracle suite was checked on."""

from __future__ import annotations

import os

BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture", "sf0.01")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")
