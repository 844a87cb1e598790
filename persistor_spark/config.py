"""Engine configuration (reference: persistor/internal/config/config.go:36-263).

The reference validates broker/storage/batch combos at startup (E5); here the
dataclasses validate structurally at construction and `validate()` checks the
cross-field rules that matter for the Spark engine.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# Mask members understood by the blob-path generator (storage.go:125-163):
# time parts, `{attr}` attribute substitutions, or custom constant keys.
TIME_MASK_MEMBERS = ("year", "month", "day", "hour")


@dataclass(frozen=True)
class BatchSettings:
    """Reference defaults: persistor.toml:79-82 (5000 msgs / 30s / 1MB)."""

    batch_size: int = 5000
    batch_timeout_s: int = 30
    batch_memory_bytes: int = 1_000_000

    def validate(self) -> None:
        if self.batch_size <= 0 or self.batch_timeout_s <= 0 or self.batch_memory_bytes <= 0:
            raise ValueError("batch settings must be positive")


@dataclass(frozen=True)
class StorageConfig:
    """Blob destination + path mask (storage.go:42-50,103-163)."""

    scheme: str = "gs"  # gs | abfss | file
    bucket: str = "persistor-bucket"
    prefix: str = "msg"
    # Path mask, in user order.  Members: 'year'|'month'|'day'|'hour',
    # '{attr}' (attribute substitution, missing -> 'unknown'), or a custom
    # key resolved via `custom_values`.
    mask: tuple[str, ...] = ("year", "month", "day")
    custom_values: dict = field(default_factory=dict)
    extension: str = "avro"

    def validate(self) -> None:
        if not self.bucket:
            raise ValueError("bucket required")
        custom_lower = {k.lower() for k in self.custom_values}
        for m in self.mask:
            # case-insensitive like the reference (storage.go:198) and like
            # mask_columns' lowercase lookup — 'Year' is a time member and
            # mask=('ENV',) matches custom_values={'ENV': ...}
            ml = m.lower()
            if ml in TIME_MASK_MEMBERS:
                continue
            if m.startswith("{") and m.endswith("}") and len(m) > 2:
                continue
            if ml in custom_lower:
                continue
            raise ValueError(f"unknown mask member {m!r} (not time/attr/custom)")

    @property
    def base_url(self) -> str:
        if self.scheme == "file":
            return f"file://{self.bucket}"
        return f"{self.scheme}://{self.bucket}"


@dataclass(frozen=True)
class IngestConfig:
    """Core+Indexer collapsed into one pipeline (SURVEY.md §3.1-3.2)."""

    storage: StorageConfig = field(default_factory=StorageConfig)
    batch: BatchSettings = field(default_factory=BatchSettings)
    # Attributes whose value-tuple splits a batch into per-version blobs
    # (version_batching.go:75-102).
    version_keys: tuple[str, ...] = ("attr_version",)
    # Column name used as the deterministic clock for time-mask members and
    # indexer_ingestion_time.  None -> wall clock (production default;
    # storage.go:104 uses time.Now()), pinned to one instant per unit of
    # work (plans.ingest.pin_clock): the micro-batch's logged timestamp in
    # streaming, which replays reuse; one driver-side instant in the batch
    # CLI.  Tests/fixtures inject a column (SURVEY.md §7.3 hard point 4).
    clock_column: str | None = None
    indexer_clock_skew_s: int = 60
    dead_letter_enabled: bool = True

    def validate(self) -> None:
        self.storage.validate()
        self.batch.validate()
        if not self.version_keys:
            raise ValueError("at least one version key required")


@dataclass(frozen=True)
class QueryConfig:
    """Indexer-API defaults (util.go:39-47)."""

    default_limit: int = 20
    default_offset: int = 0

    def validate(self) -> None:
        if self.default_limit <= 0 or self.default_offset < 0:
            raise ValueError("bad pagination defaults")
