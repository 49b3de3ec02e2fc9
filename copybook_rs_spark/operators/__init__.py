"""Engine operators: encode / decode / verify — partition-parallel
mapInArrow pipelines with zero per-row Python (SURVEY.md §2.10)."""

from copybook_rs_spark.operators.encode import encode_tokens, prepare_grouped  # noqa: F401
from copybook_rs_spark.operators.extras import (  # noqa: F401
    append_extra_column,
    drop_extra_column,
    narrow_config,
    widen_config,
)
from copybook_rs_spark.operators.decode import (  # noqa: F401
    decode_tokens,
    read_decoded,
    run_decode_resumable,
)
from copybook_rs_spark.operators.lookup import (  # noqa: F401
    candidate_chunk_ids,
    lookup_docs,
    recover_salt_plan,
)
from copybook_rs_spark.operators.mutate import (  # noqa: F401
    delete_docs,
    upsert_docs,
)
from copybook_rs_spark.operators.token_index import (  # noqa: F401
    build_token_index,
    docs_with_token,
    filter_chunks_by_token,
)
from copybook_rs_spark.operators.zonemap import (  # noqa: F401
    build_extras_index,
    decode_where,
    filter_chunks_by_extras,
)
