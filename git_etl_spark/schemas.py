"""Explicit schemas (SURVEY.md §1).

Git-domain schemas reproduce the reference's data model
(reference ``db/schema.ts:3-121``; in-flight records
``src/git-parser.ts:1-43``) with the §1.3 type mapping:
INTEGER→Long (counts can exceed int32 at 100 TB), TIMESTAMP-as-ISO-string
→ real TimestampType, BOOLEAN 0/1 → BooleanType, the in-flight nested
``FileChange[]`` → ArrayType(StructType) flattened with ``explode`` at
load. Surrogate AUTOINCREMENT keys are dropped by design; natural keys
(the reference's UNIQUE constraints) are the identity.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# --- git domain ---------------------------------------------------------

# reference src/git-parser.ts:15-19 (FileChange)
FILE_CHANGE_STRUCT = StructType(
    [
        StructField("file_path", StringType(), False),
        StructField("additions", LongType(), False),
        StructField("deletions", LongType(), False),
    ]
)

# reference src/git-parser.ts:1-13 (GitCommit) + db/schema.ts:4-20 (commits)
# nested file_changes kept in-flight, exploded into the file_changes table at load
COMMITS_SCHEMA = StructType(
    [
        StructField("repo_name", StringType(), False),
        StructField("sha", StringType(), False),
        StructField("author_email", StringType(), False),
        StructField("author_name", StringType(), False),
        StructField("committed_at", TimestampType(), False),
        StructField("message", StringType(), True),
        StructField("additions", LongType(), False),
        StructField("deletions", LongType(), False),
        StructField("files_changed", LongType(), False),
        StructField("is_merge", BooleanType(), False),
        StructField("branch", StringType(), True),
        StructField("file_changes", ArrayType(FILE_CHANGE_STRUCT), True),
    ]
)

# reference src/git-parser.ts:21-29 (GitTag) + db/schema.ts:102-115 (tags)
TAGS_SCHEMA = StructType(
    [
        StructField("repo_name", StringType(), False),
        StructField("tag_name", StringType(), False),
        StructField("sha", StringType(), False),
        StructField("tagger_name", StringType(), True),
        StructField("tagger_email", StringType(), True),
        StructField("tag_date", TimestampType(), True),
        StructField("message", StringType(), True),
        StructField("is_annotated", BooleanType(), False),
    ]
)

# --- driver synthetic corpus (FIXTURES.md §B) ----------------------------

CORPUS_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
