"""Sources: batch readers for the engine.

The reference has no file connectors at all — its canonical ingress is
``json.loads`` output fed to the pipeline (reference ``README.md:41-53``).
The Spark engine's ingress is the DataFrameReader; these helpers add the
engine's conventions (explicit schemas, star-schema loading, JSON-string
payload parsing for dynamic columns).
"""

from .avro_table import read_avro, write_avro
from .datasource import (DeltaJarlessDataSource,
                         IcebergJarlessDataSource)
from .catalog import describe_store, store_kind
from .delta import (convert_to_delta, delta_changes,
                    delta_checkpoint, delta_clone,
                    delta_delete_where,
                    delta_history, delta_log_cleanup,
                    delta_optimize,
                    delta_restore, delta_snapshot,
                    delta_vacuum, read_delta, write_delta)
from .iceberg import (convert_to_iceberg, iceberg_changes,
                      iceberg_delete_where,
                      iceberg_expire_snapshots,
                      iceberg_rewrite_data_files,
                      iceberg_rollback,
                      iceberg_snapshot, read_iceberg,
                      write_iceberg, write_iceberg_deletes)
from .manifest import (manifest_changes, manifest_current,
                       manifest_merge, manifest_merge_into,
                       manifest_read,
                       manifest_history, manifest_lookup,
                       manifest_rebucket,
                       manifest_stats, manifest_vacuum)
from .partitioned import (pmanifest_changes, pmanifest_history,
                          pmanifest_lookup, pmanifest_merge,
                          pmanifest_merge_into,
                          pmanifest_partitions, pmanifest_read,
                          pmanifest_rebucket, pmanifest_stats,
                          pmanifest_vacuum, select_partitions)
from .sinks import (audit_parquet_layout, compact_parquet, read_orc,
                    recover_upsert_backup,
                    upsert_parquet,
                    write_bucketed_table,
                    write_csv, write_json, write_orc, write_parquet)
from .zonemap import (zonemap_append, zonemap_compact, zonemap_files,
                      zonemap_overlap, zonemap_read,
                      zonemap_recover_compact, zonemap_stats,
                      zonemap_vacuum, zonemap_write)
from .tables import (TABLES, ensure_session_confs, infer_json_schema,
                     load_star_schema, load_table, parse_json_col,
                     read_binary_files, read_csv, read_jsonl, read_text)

__all__ = ("DeltaJarlessDataSource", "IcebergJarlessDataSource",
           "TABLES", "convert_to_delta", "convert_to_iceberg",
           "delta_changes", "delta_checkpoint", "delta_clone",
           "delta_optimize", "iceberg_changes", "iceberg_delete_where",
           "delta_delete_where", "delta_log_cleanup",
           "delta_restore", "iceberg_expire_snapshots",
           "iceberg_rewrite_data_files", "iceberg_rollback",
           "delta_history",
           "delta_snapshot", "delta_vacuum", "describe_store",
           "iceberg_snapshot", "read_avro", "read_delta",
           "read_iceberg", "write_avro",
           "write_delta", "write_iceberg", "write_iceberg_deletes",
           "ensure_session_confs", "infer_json_schema",
           "load_star_schema", "load_table",
           "manifest_changes",
           "manifest_current", "manifest_merge", "manifest_merge_into",
           "manifest_read",
           "manifest_history", "manifest_lookup", "manifest_rebucket",
           "manifest_stats",
           "manifest_vacuum",
           "parse_json_col",
           "pmanifest_changes", "pmanifest_history",
           "pmanifest_lookup", "pmanifest_merge", "pmanifest_merge_into",
           "pmanifest_partitions",
           "pmanifest_read", "pmanifest_rebucket", "pmanifest_stats",
           "pmanifest_vacuum", "select_partitions",
           "audit_parquet_layout", "compact_parquet",
           "read_binary_files", "read_csv", "read_jsonl", "read_orc",
           "read_text", "recover_upsert_backup",
           "upsert_parquet",
           "write_bucketed_table", "write_csv", "write_json", "write_orc",
           "store_kind",
           "write_parquet",
           "zonemap_append", "zonemap_compact",
           "zonemap_files", "zonemap_overlap", "zonemap_read",
           "zonemap_recover_compact", "zonemap_stats",
           "zonemap_vacuum", "zonemap_write")
