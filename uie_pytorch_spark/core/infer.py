"""The shared inference+decode kernel: (prompt, chunk_text) rows in,
span records out. Used by BOTH the Spark mapInPandas UDF and the eager
test oracle — one code path, so distributed vs single-process results
are byte-identical by construction.

Pipeline per row (mirrors /root/reference/uie_predictor.py:443-514):
tokenize pair -> model forward (bucketed, batch-invariant) ->
threshold -> start/end pairing -> offset rebase -> char spans ->
slice result text (from chunk for spans, from prompt for
classification answers with negative offsets).
"""

from __future__ import annotations

from typing import Dict, List, Sequence

from .model import TinyUIE, forward_bucketed
from .spans import char_spans_to_results, decode_example
from .tokenizer import encode_batch

# A record: {"text": str, "start": int|None, "end": int|None,
#            "prob": float, "is_cls": bool}
SpanRecord = Dict


def infer_decode_batch(
    model: TinyUIE,
    prompts: Sequence[str],
    chunk_texts: Sequence[str],
    max_seq_len: int = 512,
    position_prob: float = 0.5,
    tokenizer: str = "char",
) -> List[List[SpanRecord]]:
    """Run the kernel on a batch of (prompt, chunk) pairs.

    Returns, per input row, span records in canonical order with
    CHUNK-LOCAL char offsets (the caller shifts by the chunk's char
    offset within the document); classification answers carry
    start=end=None and text sliced from the prompt
    (uie_predictor.py:347-352). A row keeps at most ONE classification
    answer, its first in decode order: the vote reads only a chunk's
    first answer (uie_predictor.py:529-550 votes with ``[0]``).
    """
    if len(prompts) == 0:
        return []
    enc = encode_batch(
        prompts, chunk_texts, max_seq_len=max_seq_len, mode=tokenizer
    )
    start_prob, end_prob = forward_bucketed(
        model, enc["input_ids"], enc["token_type_ids"], enc["attention_mask"]
    )
    out: List[List[SpanRecord]] = []
    for b in range(len(prompts)):
        char_spans = decode_example(
            start_prob[b], end_prob[b], enc["offset_mapping"][b], position_prob
        )
        results = char_spans_to_results(char_spans, chunk_texts[b], prompts[b])
        records = []
        cls_seen = False
        for r in results:
            is_cls = "start" not in r
            if is_cls:
                if cls_seen:
                    continue
                cls_seen = True
            records.append(
                {
                    "text": r["text"],
                    "start": None if is_cls else int(r["start"]),
                    "end": None if is_cls else int(r["end"]),
                    "prob": float(r["probability"]),
                    "is_cls": is_cls,
                }
            )
        out.append(records)
    return out
