from .tokens import (posting_lists, synthetic_tokens,  # noqa: F401
                     tokens_from_csv, tokens_from_documents,
                     tokens_from_jsonl, tokens_from_orc, write_tokens_csv,
                     write_tokens_jsonl, write_tokens_orc)
