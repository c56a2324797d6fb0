from .snapshots import (
    ConcurrentCommit, latest_version, read_snapshot, scan_pruning_stats,
    snapshot_changes, snapshot_changes_log, snapshot_history,
    snapshot_append, snapshot_apply_changes,
    sql_predicates,
    snapshot_compact, snapshot_delete, snapshot_maintain,
    snapshot_prune, snapshot_rollback,
    snapshot_read_session,
    snapshot_scan, snapshot_tag, snapshot_tags, snapshot_untag,
    snapshot_upsert, snapshot_version_for_source, snapshot_write,
)
from .db3 import (  # noqa: F401
    db3_messages_frame, db3_topic_metadata, parse_db3_bytes,
    read_db3_messages,
)
from .mcap import (  # noqa: F401
    decode_cdr_messages, extract_mcap_topics, mcap_messages_frame,
    mcap_topic_metadata,
    parse_mcap_bytes, read_mcap_messages,
)
from .rosbag2 import (  # noqa: F401
    load_definitions_dir, read_rosbag2, rosbag2_metadata,
)
from .s3 import S3SnapshotAdapter  # noqa: F401
from .spark_source import (  # noqa: F401
    SnapshotDataSource, register_snapshot_filesystem,
    register_snapshot_source, register_snapshot_table,
)
from .textual import (  # noqa: F401
    QuarantinedRead, read_csv, read_jsonl,
)
from .warc import (  # noqa: F401
    parse_warc_bytes, read_warc, split_http_response,
)
from .tables import (
    TPCH_TABLES, InPlaceMaintenanceWarning, compact_files,
    dataset_bytes, dataset_has_data,
    delete_keys, load_table, load_tables, merge_upsert, path_exists,
    prune_versions, read_topics, write_bucketed,
    write_partitioned, write_time_sorted, write_zordered, zorder_key,
)

__all__ = ["QuarantinedRead", "read_csv", "read_jsonl",
           "db3_messages_frame", "db3_topic_metadata",
           "parse_db3_bytes", "read_db3_messages",
           "decode_cdr_messages", "extract_mcap_topics",
           "mcap_messages_frame", "mcap_topic_metadata",
           "parse_mcap_bytes", "read_mcap_messages",
           "parse_warc_bytes", "read_warc", "split_http_response",
           "TPCH_TABLES", "ConcurrentCommit",
           "InPlaceMaintenanceWarning", "compact_files",
           "dataset_bytes", "dataset_has_data",
           "delete_keys", "latest_version", "load_table", "load_tables",
           "merge_upsert", "path_exists",
           "prune_versions", "read_snapshot", "read_topics",
           "scan_pruning_stats", "snapshot_changes",
           "snapshot_changes_log", "snapshot_history", "sql_predicates",
           "snapshot_append", "snapshot_apply_changes",
           "snapshot_read_session",
           "S3SnapshotAdapter",
           "load_definitions_dir", "read_rosbag2", "rosbag2_metadata",
           "SnapshotDataSource", "register_snapshot_filesystem",
           "register_snapshot_source", "register_snapshot_table",
           "snapshot_compact", "snapshot_delete", "snapshot_maintain",
           "snapshot_prune", "snapshot_rollback", "snapshot_scan",
           "snapshot_tag", "snapshot_tags", "snapshot_untag",
           "snapshot_upsert", "snapshot_version_for_source",
           "snapshot_write",
           "write_bucketed", "write_partitioned", "write_time_sorted",
           "write_zordered", "zorder_key"]
