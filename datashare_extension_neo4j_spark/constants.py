"""Graph-model constants.

Semantics mirror the reference's fixed schema declarations
(/root/reference/neo4j-app/neo4j_app/constants.py) — column names, CSV
type suffixes, email header classification sets, array split char.
This file declares the *contract*; all execution is Spark DataFrames.
"""

# --- node labels ------------------------------------------------------
DOC_NODE = "Document"
NE_NODE = "NamedEntity"

# --- document columns (reference constants.py:20-31) ------------------
DOC_ID = "id"
DOC_DIRNAME = "dirname"
DOC_CONTENT_TYPE = "contentType"
DOC_CONTENT_LENGTH = "contentLength"
DOC_EXTRACTION_DATE = "extractionDate"
DOC_EXTRACTION_LEVEL = "extractionLevel"
DOC_PATH = "path"
DOC_TITLE = "title"
DOC_URL_SUFFIX = "urlSuffix"
DOC_CREATED_AT = "createdAt"
DOC_MODIFIED_AT = "modifiedAt"
DOC_ROOT_TYPE = "HAS_PARENT"

# ordered coalesce key lists (reference constants.py:38-50)
DOC_CREATED_AT_META = [
    "tika_metadata_dcterms_created_iso8601",
    "tika_metadata_creation_date_iso8601",
    "tika_metadata_date_iso8601",
]
DOC_MODIFIED_AT_META = [
    "tika_metadata_dcterms_modified_iso8601",
    "tika_metadata_last_modified_iso8601",
    "tika_metadata_modified_iso8601",
    "tika_metadata_last_save_date_iso8601",
    "tika_metadata_pdf_docinfo_modified_iso8601",
    "tika_metadata_date_iso8601",
]

# --- named-entity (mention) columns (reference constants.py:95-107) ---
NE_EXTRACTOR_LANG = "extractorLanguage"
NE_MENTION_NORM = "mentionNorm"
NE_OFFSETS = "offsets"
NE_IDS = "mentionIds"
NE_EXTRACTORS = "mentionExtractors"
NE_APPEARS_IN_DOC = "APPEARS_IN"

# --- email relationships (reference constants.py:53-76) ---------------
EMAIL_CATEGORY = "EMAIL"
EMAIL_HEADER = "emailHeaderField"
EMAIL_SENT_TYPE = "SENT"
EMAIL_RECEIVED_TYPE = "RECEIVED"
EMAIL_REL_HEADER_FIELDS = "fields"
SENT_EMAIL_HEADERS = ["tika_metadata_message_from", "tika_metadata_dc_creator"]
RECEIVED_EMAIL_HEADERS = [
    "tika_metadata_message_bcc",
    "tika_metadata_message_cc",
    "tika_metadata_message_to",
]

# --- neo4j-admin bulk CSV specials (reference constants.py:115-120) ---
NEO4J_ARRAY_SPLIT_CHAR = "|"
NEO4J_CSV_ID = ":ID"
NEO4J_CSV_LABEL = ":LABEL"
NEO4J_CSV_START_ID = ":START_ID"
NEO4J_CSV_END_ID = ":END_ID"
NEO4J_CSV_TYPE = ":TYPE"

# --- stats singleton (reference constants.py:122-125) -----------------
STATS_N_DOCS = "nDocuments"
STATS_N_ENTS = "nEntities"
STATS_ID = "id"

# byte-golden CSV headers (reference tests/core/test_imports.py:500-601)
DOCS_HEADER = [
    f"{DOC_ID}:ID({DOC_NODE})",
    DOC_DIRNAME,
    DOC_CONTENT_TYPE,
    f"{DOC_CONTENT_LENGTH}:LONG",
    f"{DOC_EXTRACTION_DATE}:DATETIME",
    f"{DOC_EXTRACTION_LEVEL}:LONG",
    DOC_PATH,
    DOC_TITLE,
    DOC_URL_SUFFIX,
    f"{DOC_CREATED_AT}:DATETIME",
    f"{DOC_MODIFIED_AT}:DATETIME",
    NEO4J_CSV_LABEL,
]
DOC_ROOTS_HEADER = [
    f"{NEO4J_CSV_START_ID}({DOC_NODE})",
    f"{NEO4J_CSV_END_ID}({DOC_NODE})",
]
ENTITIES_HEADER = [NEO4J_CSV_ID, NE_MENTION_NORM, NEO4J_CSV_LABEL]
ENTITY_DOCS_HEADER = [
    f"{NE_EXTRACTORS}:STRING[]",
    NE_EXTRACTOR_LANG,
    f"{NE_IDS}:STRING[]",
    f"{NE_OFFSETS}:LONG[]",
    NEO4J_CSV_START_ID,
    f"{NEO4J_CSV_END_ID}({DOC_NODE})",
    NEO4J_CSV_TYPE,
]
EMAIL_DOCS_HEADER = [
    f"{EMAIL_REL_HEADER_FIELDS}:STRING[]",
    NEO4J_CSV_START_ID,
    f"{NEO4J_CSV_END_ID}({DOC_NODE})",
    NEO4J_CSV_TYPE,
]
