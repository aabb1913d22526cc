"""Sources: deterministic corpus synthesis and documents-table readers."""

from .reader import (  # noqa: F401
    read_documents,
    read_done_ids,
    read_html_files,
)
from .snaptable import SnapTable  # noqa: F401
from .ingest import batched_extract, plan_file_batches  # noqa: F401
from .fixtures import (  # noqa: F401
    ATTR_QUOTES_HTML,
    BAD_HTML_1,
    BAD_HTML_2,
    BASE_TAG_1,
    BASE_URL,
    BODY_HTML,
    EMPTY_BODY_HTML,
    STRESS_SELECTORS,
    big_synthetic,
    gen_corpus,
    interleaved_media_doc,
)
