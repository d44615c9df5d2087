"""Source/sink adapters: JSON-payload ingestion (REST-shaped, with
injectable fetchers), delimited-list sources, filesystem scans, and
guarded sinks."""

from .http import (  # noqa: F401
    CollectingSink,
    HttpError,
    fetch_per_key,
    http_json_source,
    http_sink,
    local_frame,
)
from .http_client import RequestsFetcher, RequestsPoster  # noqa: F401
from .lists import delimited_list, list_to_df  # noqa: F401
from .text_formats import (  # noqa: F401
    read_csv,
    read_jsonl,
    read_text_docs,
    split_corrupt,
)
