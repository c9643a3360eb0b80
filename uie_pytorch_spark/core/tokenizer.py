"""Deterministic character-level tokenizer.

The reference uses HuggingFace BertTokenizerFast on (prompt, text)
pairs producing ``[CLS] prompt [SEP] text [SEP]`` with token_type_ids
0/1 and per-token (char_start, char_end) offset mappings
(/root/reference/uie_predictor.py:443-452). HF/transformers is not
available in this environment, so we use a char-level tokenizer with
identical *structural* semantics: one token per character, offsets
relative to each segment, [0,0] offsets for special/pad tokens. For
Chinese text BERT tokenization is per-character anyway; the offset
arithmetic downstream (prompt rebase, [SEP] bias, pairing) is exactly
the reference's.

Vocabulary is a pure function of the codepoint — no vocab file to
ship to executors.
"""

from __future__ import annotations

from functools import partial
from typing import List, Sequence

import numpy as np

PAD_ID = 0
CLS_ID = 1
SEP_ID = 2
VOCAB_OFFSET = 3
VOCAB_CHARS = 29997  # ids 3 .. 29999
VOCAB_SIZE = VOCAB_OFFSET + VOCAB_CHARS


def char_ids(s: str) -> np.ndarray:
    """Codepoint -> stable token id in [VOCAB_OFFSET, VOCAB_SIZE)."""
    if not s:
        return np.zeros(0, dtype=np.int64)
    cp = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    return VOCAB_OFFSET + (cp % VOCAB_CHARS)


def _char_pieces(s: str):
    """Char mode: one token per character."""
    ar = np.arange(len(s), dtype=np.int64)
    return char_ids(s), np.stack([ar, ar + 1], axis=1)


def _assemble(pieces, prompt: str, text: str, max_seq_len: int):
    """Lay out ``[CLS] prompt [SEP] text [SEP]`` from one mode's
    ``pieces(s) -> (ids (n,), char offsets (n, 2))``.

    Returns dict of 1-D arrays (unpadded length L):
      input_ids, token_type_ids, attention_mask : int64 (L,)
      offset_mapping : int64 (L, 2) — offsets relative to the segment
        the token came from ([CLS]/[SEP]/pad -> [0,0]), matching HF
        fast-tokenizer behavior the decode math depends on.

    If the pair exceeds max_seq_len the prompt is cut to
    max_seq_len - 3 tokens, then the TEXT tail is truncated (the
    chunker normally prevents this; it can still trigger for prompts
    longer than the stage's lexicographic-max prompt, see
    textnorm.max_predict_len).
    """
    p_ids, p_om = pieces(prompt)
    p_ids, p_om = p_ids[: max_seq_len - 3], p_om[: max_seq_len - 3]
    budget = max(max_seq_len - 3 - len(p_ids), 0)
    t_ids, t_om = pieces(text)
    t_ids, t_om = t_ids[:budget], t_om[:budget]

    lp, lt = len(p_ids), len(t_ids)
    L = 1 + lp + 1 + lt + 1
    ids = np.empty(L, dtype=np.int64)
    ids[0] = CLS_ID
    ids[1 : 1 + lp] = p_ids
    ids[1 + lp] = SEP_ID
    ids[2 + lp : L - 1] = t_ids
    ids[L - 1] = SEP_ID

    tt = np.zeros(L, dtype=np.int64)
    tt[2 + lp :] = 1  # text segment + final [SEP]

    om = np.zeros((L, 2), dtype=np.int64)
    om[1 : 1 + lp] = p_om
    om[2 + lp : L - 1] = t_om

    return {
        "input_ids": ids,
        "token_type_ids": tt,
        "attention_mask": np.ones(L, dtype=np.int64),
        "offset_mapping": om,
    }


def encode_pair(prompt: str, text: str, max_seq_len: int = 512):
    """Encode one (prompt, text) pair per character; see _assemble."""
    return _assemble(_char_pieces, prompt, text, max_seq_len)


# ---------------------------------------------------------------------
# Wordpiece-style English mode ("wordpiece-en")
#
# The reference's HF BertTokenizerFast emits multi-char sub-word
# tokens for English with per-token (char_start, char_end) offsets
# (uie_predictor.py:443-452); char-level tokenization is exact for zh
# but diverges from that on en sub-word boundaries. This mode
# reproduces the STRUCTURE: BERT-style basic tokenization (whitespace
# + punctuation split, CJK chars per-char) followed by greedy
# longest-match-first wordpiece over a fixed, deterministic sub-word
# list (no vocab file to ship — HF vocabs aren't available in this
# environment). Offsets are segment-relative spans of each piece, so
# the whole downstream decode (rebase, pairing, slicing) is unchanged
# — including the reference's token-count-vs-char-count rebase quirk
# for prompts (utils.py:539-557 shifts by TOKEN count, the cls slice
# at uie_predictor.py:347-352 shifts back by CHAR count).
# ---------------------------------------------------------------------

# common English prefixes/suffixes/stems, longest-match-first; all
# lowercase, len >= 2. Deterministic and environment-free.
_WP_SUBWORDS = frozenset(
    """
    the tion sion ment ness able ible ship ing ness ance ence ally
    ous ive ful less est ers ies ied ed er ly al an re on at en in
    es or ar is it as to of and for with from over under inter
    un dis pre pro con com per sub out up anti auto bio geo
    micro multi semi tele trans ultra
    """.split()
)
_WP_MAX_PIECE = 12


def _is_cjk(cp: int) -> bool:
    return (
        0x4E00 <= cp <= 0x9FFF
        or 0x3400 <= cp <= 0x4DBF
        or 0xF900 <= cp <= 0xFAFF
        or 0x3000 <= cp <= 0x303F
        or 0xFF00 <= cp <= 0xFFEF
    )


def basic_spans(s: str) -> List[tuple]:
    """BERT BasicTokenizer-style word spans: (start, end) for each
    whitespace-delimited word, with punctuation and CJK characters as
    single-char spans."""
    out = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c.isspace():
            i += 1
            continue
        if _is_cjk(ord(c)) or not (c.isalnum() or c == "'"):
            out.append((i, i + 1))
            i += 1
            continue
        j = i
        while j < n and (s[j].isalnum() or s[j] == "'") and not _is_cjk(ord(s[j])) and not s[j].isspace():
            j += 1
        out.append((i, j))
        i = j
    return out


def _lower_keep_len(word: str) -> str:
    """Length-preserving lowercase: chars whose ``str.lower()`` changes
    length (e.g. 'İ' -> 'i̇'; note 'ẞ'.lower() is 'ß', length 1 — the
    'ss' expansion belongs to ``casefold()``, which is why lower(), not
    casefold(), is used here) are kept as-is so piece offsets computed
    against the lowered string always index the ORIGINAL string (the
    offsets are char spans into ``s``).

    Known divergence from whole-string ``str.lower()``: per-char
    lowering drops context-sensitive mappings (Greek capital sigma
    lowercases to final 'ς' at word end but 'σ' elsewhere; per-char
    always yields 'σ'), so a lowered piece can differ from the
    corresponding slice of ``word.lower()`` — deliberate: offsets
    always win over caseform fidelity in this seam."""
    low = word.lower()
    if len(low) == len(word):
        return low
    return "".join(
        c.lower() if len(c.lower()) == 1 else c for c in word
    )


def wordpiece_spans(s: str) -> List[tuple]:
    """(start, end, is_continuation) sub-word piece spans for the
    whole string: basic split, then greedy longest-match-first within
    each word against _WP_SUBWORDS (single chars always match as the
    fallback — no [UNK], every char is coverable)."""
    pieces = []
    for w0, w1 in basic_spans(s):
        word = _lower_keep_len(s[w0:w1])
        k = 0
        while k < len(word):
            end = min(len(word), k + _WP_MAX_PIECE)
            match = 1
            for m in range(end - k, 1, -1):
                if word[k : k + m] in _WP_SUBWORDS:
                    match = m
                    break
            pieces.append((w0 + k, w0 + k + match, k > 0))
            k += match
    return pieces


def _wp_pieces(s: str):
    """Built-in wordpiece mode: stable token ids are the crc32 of the
    (##-marked, lowered) piece string — deterministic across processes,
    no vocab file."""
    import zlib

    pieces = wordpiece_spans(s)
    toks = [("##" if cont else "") + s[a:b].lower() for a, b, cont in pieces]
    ids = [VOCAB_OFFSET + zlib.crc32(t.encode("utf-8")) % VOCAB_CHARS for t in toks]
    return np.array(ids, dtype=np.int64), _piece_offsets(pieces)


def _piece_offsets(pieces: List[tuple]) -> np.ndarray:
    """(n, 2) char offsets of (start, end, ...) piece tuples."""
    return np.array([p[:2] for p in pieces], dtype=np.int64).reshape(-1, 2)


def encode_pair_wp(prompt: str, text: str, max_seq_len: int = 512):
    """Wordpiece-mode ``encode_pair``: offsets are segment-relative
    piece spans; truncation is piece-wise."""
    return _assemble(_wp_pieces, prompt, text, max_seq_len)


# ---------------------------------------------------------------------
# Vocab-file wordpiece ("wordpiece-en@<path>")
#
# The swap-in seam for a REAL BERT vocab (reference
# uie_predictor.py:160-167 loads the checkpoint's tokenizer files):
# ship vocab.txt to executors exactly like the model artifact
# (sc.addFile / --files) and set UIEConfig(tokenizer=
# "wordpiece-en@vocab.txt") — no code changes. Semantics follow HF
# WordPiece: greedy longest-match-first against the vocab, "##"
# continuation prefix, and a word whose remainder has NO vocab match
# becomes one [UNK] token spanning the whole word (offsets = the word
# span, which is what the HF fast tokenizer reports). Token ids are the
# vocab line numbers folded into the TinyUIE embedding range; a real
# checkpoint swap replaces forward() and this fold together.
# ---------------------------------------------------------------------


class WordpieceVocab:
    __slots__ = ("index", "max_len", "unk_id")

    def __init__(self, tokens: Sequence[str]):
        self.index = {}
        for i, t in enumerate(tokens):
            self.index.setdefault(t, i)
        self.max_len = max((len(t) for t in self.index), default=1)
        self.unk_id = self.index.get("[UNK]", 0)
        if len(self.index) > VOCAB_CHARS:
            # the id fold (t % VOCAB_CHARS) below aliases ids >=
            # VOCAB_CHARS onto low rows ([PAD]/[UNK]/[CLS]); a real
            # 30k+ checkpoint swap must replace forward() + this fold
            # together — warn so the collision can't happen silently.
            import warnings

            warnings.warn(
                f"vocab has {len(self.index)} entries > embedding rows "
                f"({VOCAB_CHARS}); token ids will alias under the "
                "TinyUIE id fold — swap the encoder embedding together "
                "with the vocab for a real checkpoint",
                RuntimeWarning,
                stacklevel=2,
            )


def load_vocab(path: str) -> WordpieceVocab:
    """Per-process cached vocab load; resolves through SparkFiles when
    the path is not local (same staging contract as model artifacts)."""
    v = _VOCAB_CACHE.get(path)
    if v is None:
        from .model import resolve_artifact

        with open(resolve_artifact(path), encoding="utf-8") as f:
            toks = [ln.rstrip("\n") for ln in f if ln.strip()]
        v = _VOCAB_CACHE[path] = WordpieceVocab(toks)
    return v


_VOCAB_CACHE: dict = {}


def wordpiece_spans_vocab(s: str, vocab: WordpieceVocab) -> List[tuple]:
    """(start, end, token_id) piece spans against a real vocab file:
    greedy longest-match-first, '##' continuations, whole-word [UNK]
    fallback (HF WordPiece semantics)."""
    pieces: List[tuple] = []
    for w0, w1 in basic_spans(s):
        word = _lower_keep_len(s[w0:w1])
        k = 0
        word_pieces: List[tuple] = []
        while k < len(word):
            end = min(len(word), k + vocab.max_len)
            match = None
            for m in range(end - k, 0, -1):
                tid = vocab.index.get(("##" if k else "") + word[k : k + m])
                if tid is not None:
                    match = (m, tid)
                    break
            if match is None:
                word_pieces = [(w0, w1, vocab.unk_id)]
                break
            word_pieces.append((w0 + k, w0 + k + match[0], match[1]))
            k += match[0]
        pieces.extend(word_pieces)
    return pieces


def _vocab_pieces(s: str, vocab: WordpieceVocab):
    """Vocab-file mode: piece ids are vocab line numbers folded into
    the embedding range."""
    pieces = wordpiece_spans_vocab(s, vocab)
    ids = [VOCAB_OFFSET + (t % VOCAB_CHARS) for _a, _b, t in pieces]
    return np.array(ids, dtype=np.int64), _piece_offsets(pieces)


_PIECES = {"char": _char_pieces, "wordpiece-en": _wp_pieces}


def encode_batch(
    prompts: Sequence[str],
    texts: Sequence[str],
    max_seq_len: int = 512,
    pad_to: int | None = None,
    mode: str = "char",
):
    """Encode a batch, padding to the batch-longest (or ``pad_to``).

    Returns dict of arrays shaped (B, L) / (B, L, 2). Padding is
    per-batch 'longest' — the model is bitwise padding-invariant (see
    core.model), so batch composition does not affect results.
    ``mode``: 'char' (default, exact for zh), 'wordpiece-en' (built-in
    sub-word list), or 'wordpiece-en@<vocab-path>' (real vocab file,
    shipped like a model artifact).
    """
    if mode.startswith("wordpiece-en@"):
        pieces = partial(_vocab_pieces, vocab=load_vocab(mode.split("@", 1)[1]))
    else:
        pieces = _PIECES[mode]
    encs = [_assemble(pieces, p, t, max_seq_len) for p, t in zip(prompts, texts)]
    L = max((e["input_ids"].shape[0] for e in encs), default=0)
    if pad_to is not None:
        L = max(L, pad_to)
    B = len(encs)
    out = {
        "input_ids": np.zeros((B, L), dtype=np.int64),
        "token_type_ids": np.zeros((B, L), dtype=np.int64),
        "attention_mask": np.zeros((B, L), dtype=np.int64),
        "offset_mapping": np.zeros((B, L, 2), dtype=np.int64),
    }
    for b, e in enumerate(encs):
        n = e["input_ids"].shape[0]
        out["input_ids"][b, :n] = e["input_ids"]
        out["token_type_ids"][b, :n] = e["token_type_ids"]
        out["attention_mask"][b, :n] = e["attention_mask"]
        out["offset_mapping"][b, :n] = e["offset_mapping"]
    return out
