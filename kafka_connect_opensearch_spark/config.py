"""Engine configuration with the reference connector's cross-field invariants.

Mirrors the semantics (not the code) of
``OpenSearchSinkConnectorConfig.java`` (defaults at :71,:80,:87,:94,:108,
:116,:123,:132) and ``Validator.java`` cross-field rules (:126-300), re-cast
as a plain dataclass validated before any Spark work begins (SURVEY.md E4).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum


class BehaviorOnNullValues(str, Enum):
    """Tombstone policy — reference ``DataConverter.BehaviorOnNullValues``
    (DataConverter.java:117-154)."""

    IGNORE = "ignore"
    DELETE = "delete"
    FAIL = "fail"


class BehaviorOnMalformedDoc(str, Enum):
    """Malformed-document policy — reference ``OpenSearchClient.java:91-98``."""

    IGNORE = "ignore"
    WARN = "warn"
    FAIL = "fail"


class WriteMethod(str, Enum):
    """Reference ``OpenSearchSinkConnectorConfig.java:257`` (default INSERT)."""

    INSERT = "insert"
    UPSERT = "upsert"


class DataStreamType(str, Enum):
    """Reference ``OpenSearchSinkConnectorConfig.DataStreamType``
    (OpenSearchSinkConnectorConfig.java:369-373; default NONE)."""

    NONE = "none"
    LOGS = "logs"
    METRICS = "metrics"


class ConfigException(ValueError):
    """Raised when configuration invariants are violated."""


# BM25 constants pinned by the north rule (OpenSearch default similarity).
BM25_K1 = 1.2
BM25_B = 0.75

# Analyzer contract: lowercase, tokens are maximal [a-z0-9_]+ runs.
# A pure character-class pattern (no \b/\w/lookaround) is the only regex
# shape whose semantics are identical across Java (Spark), RE2 (DuckDB),
# and Python re — and regexp_extract_all is ~10x faster than
# split+filter-HOF (ArrayFilter is CodegenFallback). The same pattern is
# used by the engine, the numpy oracle, and the DuckDB oracle SQL so
# tokenization is bit-identical across all three.
TOKEN_PATTERN = "[a-z0-9_]+"
# retained for the keyword multi-field mapping (Mapping.java:106-118);
# NOT part of the analyzer (ignore_above governs the keyword field only)
MAX_TOKEN_LENGTH = 256

# Posting-list block size for block-max metadata (docs per block).
POSTINGS_BLOCK_SIZE = 128

# Separator joining id columns into doc_key (the reference joins
# "{topic}+{partition}+{offset}" with '+', DataConverter.java:156-158).
# ASCII unit separator: unambiguous, survives numpy/pandas string ops
# (NUL would be stripped by numpy fixed-width unicode).
DOC_KEY_SEP = "\x1f"


@dataclass
class EngineConfig:
    """Index-build + query engine configuration.

    Numeric defaults intentionally match the reference's operating envelope
    (BASELINE.md §1) so micro-batch sizing and retry behavior are comparable.
    """

    # --- batching (reference B1: OpenSearchClient.java:145-155) ---
    batch_size: int = 2000           # records per micro-batch flush
    bulk_size_bytes: int = 5 * 1024 * 1024
    linger_ms: int = 1
    # --- concurrency / buffering (B2/B3) ---
    max_in_flight_requests: int = 5
    max_buffered_records: int = 20000
    flush_timeout_ms: int = 180_000
    # --- retries (B5: RetryUtil.java:58-95) ---
    max_retries: int = 5
    retry_backoff_ms: int = 100
    # --- document semantics ---
    key_ignore: bool = False
    schema_ignore: bool = False
    compact_map_entries: bool = True
    write_method: WriteMethod = WriteMethod.INSERT
    behavior_on_null_values: BehaviorOnNullValues = BehaviorOnNullValues.FAIL
    behavior_on_malformed_docs: BehaviorOnMalformedDoc = BehaviorOnMalformedDoc.FAIL
    # --- data streams (reference OpenSearchSinkConnectorConfig.java:306-355) ---
    data_stream_type: DataStreamType = DataStreamType.NONE
    data_stream_dataset: str = ""
    data_stream_timestamp_field: tuple[str, ...] = ()
    # --- index build ---
    num_segments: int = 8            # micro-batches per build (segment count)
    # micro-batches grouped per ingest pipeline (group commit; the
    # reference's BulkProcessor batches bulks the same way). Each batch
    # still commits its own manifest — crash re-work is bounded by one wave.
    ingest_wave_size: int = 4
    shuffle_partitions: int = 32
    salt_partitions: int = 8         # two-level agg fanout for hot terms
    # --- tiered auto-merge (Lucene-style; reference's flush cadence analog)
    auto_merge: bool = False         # run tiered merge after each ingest
    merge_factor: int = 4            # segments per tier before a merge trips
    block_size: int = POSTINGS_BLOCK_SIZE
    # --- positional index (Lucene IndexOptions...AND_POSITIONS analog) ---
    # When on, every segment gets a positions.parquet beside its postings
    # (phrase/NEAR/phrase-BM25 queries); build cost ≈ one extra tokenized
    # pass + a corpus-sized store, so it is a per-index mapping choice.
    index_positions: bool = False
    # --- BM25 ---
    k1: float = BM25_K1
    b: float = BM25_B
    # --- auth-ish fields retained for validator parity tests ---
    connection_username: str | None = None
    connection_password: str | None = None
    extra: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        self.validate()

    @property
    def is_data_stream(self) -> bool:
        """Reference ``isDataStream()``
        (OpenSearchSinkConnectorConfig.java:813-815): type set AND dataset
        non-empty."""
        return (
            self.data_stream_type != DataStreamType.NONE
            and self.data_stream_dataset != ""
        )

    def validate(self) -> None:
        """Cross-field rules, mirroring ``Validator.java``.

        - linger.ms ≤ flush.timeout.ms (Validator.java:237-253)
        - max.buffered.records ≥ batch.size × max.in.flight.requests
          (Validator.java:256-269)
        - credentials must be both set or both unset (Validator.java:128-143)
        - plus basic positivity checks from per-field validators
          (OpenSearchSinkConnectorConfig.java:988-1083).
        """
        if self.batch_size < 1:
            raise ConfigException("batch_size must be >= 1")
        if self.max_in_flight_requests < 1:
            raise ConfigException("max_in_flight_requests must be >= 1")
        if self.max_retries < 0:
            raise ConfigException("max_retries must be >= 0")
        if self.retry_backoff_ms < 0:
            raise ConfigException("retry_backoff_ms must be >= 0")
        if self.linger_ms > self.flush_timeout_ms:
            raise ConfigException(
                "linger_ms must not exceed flush_timeout_ms "
                f"({self.linger_ms} > {self.flush_timeout_ms})"
            )
        if self.max_buffered_records < self.batch_size * self.max_in_flight_requests:
            raise ConfigException(
                "max_buffered_records must be at least batch_size * "
                "max_in_flight_requests "
                f"({self.max_buffered_records} < "
                f"{self.batch_size * self.max_in_flight_requests})"
            )
        if (self.connection_username is None) != (self.connection_password is None):
            raise ConfigException(
                "connection_username and connection_password must both be "
                "provided or both be omitted"
            )
        if self.num_segments < 1:
            raise ConfigException("num_segments must be >= 1")
        if self.salt_partitions < 1:
            raise ConfigException("salt_partitions must be >= 1")
        if self.ingest_wave_size < 1:
            raise ConfigException("ingest_wave_size must be >= 1")
        if self.merge_factor < 2:
            raise ConfigException("merge_factor must be >= 2")
        if self.block_size < 1:
            raise ConfigException("block_size must be >= 1")
        if not (self.k1 >= 0 and 0 <= self.b <= 1):
            raise ConfigException("require k1 >= 0 and 0 <= b <= 1")
        self._validate_data_stream_dataset()

    def _validate_data_stream_dataset(self) -> None:
        """DataStreamDatasetValidator parity
        (OpenSearchSinkConnectorConfig.java:988-1024): ≤100 chars, all
        lowercase, none of ``\\/*?"<>| ,#-:``."""
        import re

        ds = self.data_stream_dataset
        if not ds:
            return
        if len(ds) > 100:
            raise ConfigException(
                "data_stream_dataset must be no longer than 100 characters"
            )
        if ds != ds.lower():
            raise ConfigException("data_stream_dataset must be all lowercase")
        if re.search(r'[\\/*?"<>| ,#\-:]', ds):
            raise ConfigException(
                "data_stream_dataset must not contain spaces or any of "
                '\\/*?"<>|,#-:'
            )
