"""Pipeline configuration — the Spark analog of the reference's YAML
config (``/root/reference/internal/config/config.go:20-80``,
``config_example.yml``): listener filter (table -> actions), publisher
topic/prefix/topicsMap, plus Spark-side knobs (lake layout, merge-on-read
commits) the Go daemon never needed. ``load_config`` mirrors the viper loader
(``config.go:96-117``): YAML file + ``WAL_``-prefixed environment
overrides (dots in the config path become underscores, case-insensitive
— ``WAL_PUBLISHER_TOPIC`` overrides ``publisher.topic``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


@dataclass
class PipelineConfig:
    #: table -> allowed actions (insert/update/delete/truncate);
    #: None = no filtering (config.go:74-77, README.md:59-77)
    filter_tables: dict[str, list[str]] | None = None
    #: routing (event.go:24-36)
    topic: str = "wal_listener"
    topic_prefix: str = ""
    topics_map: dict[str, str] = field(default_factory=dict)
    #: lake layout
    num_buckets: int = 32
    #: hot-key guard for the merge compaction: when set, compact_agg
    #: pre-aggregates on (keys, salt(lsn)) with map-side combine so a
    #: single key's update storm spreads across this many reducers
    #: before the bucket repartition (operators/apply.py compact_agg).
    #: None = default single-exchange plan (storm-free batches)
    compact_pre_salt: int | None = None
    #: True (incremental epochs): stats pre-pass + touched-bucket-only
    #: merge. False (wide batches: full replay/backfill): single-job
    #: merge over all buckets, counters via observe — lower fixed
    #: latency per epoch (lake/table.py merge_batch docstring)
    selective_buckets: bool = True
    #: merge-on-read commits (the LIVE-tail latency path): each epoch
    #: appends its compacted change set as a lake DELTA generation (one
    #: write + atomic manifest swap — no target read, no bucket rewrite)
    #: and readers resolve base ∪ deltas. Once ``delta_fold_every``
    #: generations are pending, the next epoch folds them into the
    #: bucketed base: the delta-touched buckets are rewritten from the
    #: read path's one resolution aggregation, on a background thread
    #: that overlaps the epoch's assembly and census, and the fold
    #: commits in the same snapshot as the epoch's own delta (LakeCatalog
    #: targets fold in line). Any truncate/maintenance/full merge folds
    #: first. False = classic copy-on-write merge per epoch (bounded
    #: replays, deep backlogs).
    delta_commits: bool = False
    delta_fold_every: int = 64
    #: upstream guarantees every batch carries only COMPLETE transactions
    #: (the stateful assembler's release contract) — the per-tx integrity
    #: census collapses to one cheap aggregate, falling back to the full
    #: census whenever Relation/Truncate rows are present. Set by the
    #: tailing entrypoints, never by raw file replay.
    assume_complete_txs: bool = False
    #: catalog mode: per-relation merges submitted concurrently (Spark's
    #: scheduler interleaves jobs; each relation commits its own table).
    #: 1 = strictly serial.
    max_parallel_merges: int = 4

    def validate(self) -> None:
        """config.Validate() analog (config.go:82-93)."""
        if self.num_buckets <= 0:
            raise ValueError("num_buckets must be positive")
        valid = {"insert", "update", "delete", "truncate"}
        for t, acts in (self.filter_tables or {}).items():
            bad = {a.lower() for a in acts} - valid
            if bad:
                raise ValueError(f"invalid actions for table {t}: {sorted(bad)}")


def _env_override(env: dict, *path: str) -> str | None:
    """viper AutomaticEnv analog: WAL_ + path segments joined by '_',
    upper-cased (config.go:98-104: SetEnvPrefix("WAL") +
    EnvKeyReplacer(".", "_"))."""
    return env.get("WAL_" + "_".join(p.upper() for p in path))


def load_config(
    path: str | None = None, env: dict | None = None
) -> PipelineConfig:
    """InitConfig analog (config.go:96-117): YAML file + WAL_ env
    overrides, then Validate(). Recognized keys (the subset with a
    Spark-side meaning; DB/broker connection keys have no analog here):

    - ``listener.filter.tables`` -> filter_tables
    - ``listener.topicsMap``     -> topics_map
    - ``publisher.topic``        -> topic (required when a publisher
      section exists, mirroring the reference's valid:"required")
    - ``publisher.topicPrefix``  -> topic_prefix
    - ``spark.numBuckets`` / ``spark.selectiveBuckets`` -> lake knobs
      (our extension)
    """
    env = dict(os.environ) if env is None else env
    doc: dict = {}
    if path is not None:
        import yaml

        with open(path) as f:
            doc = yaml.safe_load(f) or {}

    listener = doc.get("listener") or {}
    publisher = doc.get("publisher") or {}
    spark = doc.get("spark") or {}

    if "publisher" in doc and not (
        publisher.get("topic") or _env_override(env, "publisher", "topic")
    ):
        raise ValueError("publisher.topic is required (config.go Validate)")

    cfg = PipelineConfig()
    flt = (listener.get("filter") or {}).get("tables")
    if flt:
        cfg.filter_tables = {t: list(a) for t, a in flt.items()}
    if listener.get("topicsMap"):
        cfg.topics_map = dict(listener["topicsMap"])
    cfg.topic = (
        _env_override(env, "publisher", "topic")
        or publisher.get("topic")
        or cfg.topic
    )
    cfg.topic_prefix = (
        _env_override(env, "publisher", "topicprefix")
        or publisher.get("topicPrefix")
        or cfg.topic_prefix
    )
    nb = _env_override(env, "spark", "numbuckets") or spark.get("numBuckets")
    if nb is not None:
        cfg.num_buckets = int(nb)
    sel = _env_override(env, "spark", "selectivebuckets")
    if sel is None:
        sel = spark.get("selectiveBuckets")
    if sel is not None:
        cfg.selective_buckets = str(sel).lower() in ("1", "true", "yes")
    cfg.validate()
    return cfg
