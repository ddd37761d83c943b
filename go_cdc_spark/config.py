"""Pipeline configuration.

≙ the reference's JSON config trio (source/dest mongo + collections,
reference mongoreplay/oplog.go:56-174, config/*.json) collapsed into one
dataclass. Thresholds mirror the reference's tuning constants:

- ``trigger_interval`` ≙ the 1 s poll/flush tickers (tailer.go:100,
  tailer_manager.go:97).
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field

from go_cdc_spark import schemas


@dataclass
class PipelineConfig:
    pipeline_id: str
    source_log_path: str  # directory of oplog segments (parquet)
    table_root: str  # lake table root directory
    bookmark_root: str  # bookmark/lineage store directory
    key_cols: list[str] = field(default_factory=lambda: list(schemas.KEY_COLS))
    order_cols: list[str] = field(default_factory=lambda: list(schemas.ORDER_COLS))
    # Lake table layout: number of hash buckets on the key. Tests use a
    # few dozen; a 100 TB table wants O(10k) buckets so a micro-batch
    # touching 1% of keys rewrites only ~1% of the data.
    n_buckets: int = 32
    # Streaming trigger (≙ 1 s tickers). None ⇒ Trigger.AvailableNow.
    trigger_interval: str | None = None
    # Salt partitions for the two-phase LWW reduce of skewed hot keys
    # (north_rule). None ⇒ single-phase (map-side partial agg already
    # absorbs most groupBy skew); set to e.g. 16 for pathological keys.
    salt_partitions: int | None = None
    # Run lake.vacuum() after every N applied epochs (None ⇒ never):
    # reclaims bucket copies superseded by copy-on-write / compaction.
    vacuum_every: int | None = None
    # Optional event filters pushed into the scan
    # (≙ OplogCollection.Filters, collection.go:37-50):
    # list of (column, op, value) with op ∈ {=, !=, >, >=, <, <=}.
    filters: list[tuple[str, str, object]] = field(default_factory=list)
    # Oplog segment format: "parquet" (default), "json" (JSON-lines —
    # the shape a Mongo change-stream export lands in), or "csv"
    # (headerless, columns in schema order). Anything else raises at
    # stream/read construction. JSON/CSV need an explicit schema:
    # source_schema_json is a StructType.json() string; None ⇒
    # EVENT_SCHEMA widened by the table's evolved payload.
    source_format: str = "parquet"
    source_schema_json: str | None = None

    def source_schema(self):
        from pyspark.sql import types as T

        if self.source_schema_json is None:
            return None
        return T.StructType.fromJson(json.loads(self.source_schema_json))

    def to_json(self) -> str:
        return json.dumps(asdict(self), indent=2)

    @classmethod
    def from_json(cls, s: str) -> "PipelineConfig":
        d = json.loads(s)
        d["filters"] = [tuple(f) for f in d.get("filters", [])]
        return cls(**d)
