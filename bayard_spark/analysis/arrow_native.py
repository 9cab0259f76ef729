"""Arrow-native analyzer kernels (zero Python-object churn).

The pandas tokenize path materializes every token as a Python string object;
at ~1.4M tokens per batch that is memory-latency-bound and stops scaling
beyond a few cores. For the common analyzer shapes —

    (simple | whitespace) tokenizer + [lower_case] + [stop_word]
    raw tokenizer + [lower_case]

— these kernels stay entirely inside Arrow buffers (pyarrow.compute:
utf8_lower, split_pattern_regex, list_flatten, dictionary_encode) plus
numpy int math for positions/run detection. Tokens exist only as
dictionary-encoded int32 codes until the final (per-RUN, not per-token)
dictionary take. ~10× less memory traffic, scales with cores.

Complex chains (stemming, ascii_folding, ngram, facet...) fall back to the
pandas path; both paths share the same run-aggregation kernel so output is
identical (tested).

Regex note: pyarrow's split_pattern_regex is RE2 — the SAME '[^\\p{L}\\p{N}]+'
class used by the DuckDB oracle twins, and equivalent to Java's on these
classes; the pandas path uses Python's '[\\W_]+'. All agree on L/N classes.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

SIMPLE_PATTERN = r"[^\p{L}\p{N}]+"
# The same split on ASCII-only text. RE2 compiles it in ~16 us, where the
# Unicode classes take ~0.9 ms on every call: most of the time a short
# query string's analysis took.
SIMPLE_ASCII_PATTERN = r"[^A-Za-z0-9]+"
# Python's Unicode \s (str.isspace), which the pandas path splits on;
# RE2's \s is [\t\n\f\r ] alone.
WHITESPACE_PATTERN = (
    r"[\t-\r\x{1c}-\x{20}\x{85}\x{a0}\x{1680}\x{2000}-\x{200a}"
    r"\x{2028}\x{2029}\x{202f}\x{205f}\x{3000}]+"
)


def _is_ascii(texts) -> bool:
    return pc.all(pc.string_is_ascii(texts)).as_py() is not False


def _split_pattern(analyzer, ascii: bool) -> str:
    """The RE2 pattern the analyzer's tokenizer splits a batch on."""
    if analyzer.tokenizer_name != "simple":
        return WHITESPACE_PATTERN
    return SIMPLE_ASCII_PATTERN if ascii else SIMPLE_PATTERN


def _encode(tokens, lower: bool) -> tuple[np.ndarray, pa.Array]:
    """(int32 codes, dictionary) of `tokens`. With `lower`, each DISTINCT
    token is lowercased as `str.lower` does — Arrow's utf8_lower maps
    'İ' to 'i' and never writes a final sigma — and tokens that lowercase
    alike share a code: Python runs per dictionary entry, not per row."""
    enc = pc.dictionary_encode(tokens)
    if isinstance(enc, pa.ChunkedArray):
        enc = enc.combine_chunks()
    codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int32)
    dictionary = enc.dictionary
    if lower:
        low = pc.dictionary_encode(pa.array(
            [t.lower() for t in dictionary.to_pylist()], type=pa.string()
        ))
        codes = low.indices.to_numpy(zero_copy_only=False).astype(
            np.int32)[codes]
        dictionary = low.dictionary
    return codes, dictionary


def supports(analyzer) -> bool:
    """Can this Analyzer run on the Arrow-native path?

    The kernels below always lowercase BEFORE stop-word filtering, while the
    pandas path (and the oracle) applies filters in configured order — so a
    [stop_word, lower_case] chain must fall back to pandas ('The' survives a
    stop list containing 'the' there, but not here)."""
    tok_ok = analyzer.tokenizer_name in ("simple", "whitespace", "raw")
    filters = [f for f, _ in analyzer.filter_specs]
    if not (tok_ok and all(f in ("lower_case", "stop_word") for f in filters)):
        return False
    if "lower_case" in filters and "stop_word" in filters:
        return filters.index("lower_case") < filters.index("stop_word")
    return True


def doc_lengths(texts: pa.Array, analyzer) -> np.ndarray:
    """Kept-token count per row (same definition as tokenize_ints'
    doc_len_per_row) without dictionary-encoding — for the norms pass."""
    texts = pc.fill_null(texts, "")
    if analyzer.tokenizer_name == "raw":
        return (
            pc.not_equal(texts, "").to_numpy(zero_copy_only=False)
            .astype(np.int32)
        )
    stop_words: list[str] = []
    lowercase = False
    for fname, fargs in analyzer.filter_specs:
        if fname == "stop_word":
            stop_words = list(dict(fargs).get("words") or [])
        if fname == "lower_case":
            lowercase = True
    ascii = _is_ascii(texts)
    lists = pc.split_pattern_regex(
        texts, pattern=_split_pattern(analyzer, ascii)
    )
    flat = pc.list_flatten(lists)
    counts = pc.list_value_length(lists).to_numpy(zero_copy_only=False)
    counts = np.nan_to_num(counts, nan=0).astype(np.int64)
    kept = pc.not_equal(flat, "").to_numpy(zero_copy_only=False)
    if stop_words:
        if lowercase and ascii:
            flat = pc.utf8_lower(flat)
        codes, words = _encode(flat, lowercase and not ascii)
        kept &= ~pc.is_in(
            words, value_set=pa.array(stop_words)
        ).to_numpy(zero_copy_only=False)[codes]
    n = len(texts)
    row_start = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=row_start[1:])
    kf = np.cumsum(kept, dtype=np.int64)
    out = (
        kf[row_start[1:] - 1]
        - np.where(row_start[:-1] > 0, kf[row_start[:-1] - 1], 0)
    ).astype(np.int32)
    out[counts == 0] = 0
    return out


def tokenize_ints(
    texts: pa.Array, analyzer
) -> tuple[np.ndarray, np.ndarray, np.ndarray, pa.Array, np.ndarray]:
    """Arrow-native tokenize → int arrays.

    Returns (row_id, codes, pos, dictionary, doc_len_per_row):
      row_id  int64[k]  source-row index of each kept token
      codes   int32[k]  dictionary code of each kept token
      pos     int64[k]  tokenizer-assigned position (stop_word leaves gaps)
      dictionary       Arrow StringArray of unique token texts
      doc_len_per_row  int32[n] kept-token count per source row
    """
    texts = pc.fill_null(texts, "")
    lowercase = any(f == "lower_case" for f, _ in analyzer.filter_specs)
    stop_words: list[str] = []
    for fname, fargs in analyzer.filter_specs:
        if fname == "stop_word":
            stop_words = list(dict(fargs).get("words") or [])
    # split first, lowercase after, as the pandas path filters: on ASCII
    # text utf8_lower is str.lower and moves no split, so the whole batch
    # lowercases at once; elsewhere each distinct token does (`_encode`)
    ascii = _is_ascii(texts)
    if lowercase and ascii:
        texts = pc.utf8_lower(texts)
    lower_tokens = lowercase and not ascii
    n = len(texts)

    if analyzer.tokenizer_name == "raw":
        kept = pc.not_equal(texts, "").to_numpy(zero_copy_only=False)
        codes_all, dictionary = _encode(texts, lower_tokens)
        sel = np.flatnonzero(kept)
        row_id = sel.astype(np.int64)
        return (
            row_id,
            codes_all[sel],
            np.zeros(len(sel), dtype=np.int64),
            dictionary,
            kept.astype(np.int32),
        )

    lists = pc.split_pattern_regex(
        texts, pattern=_split_pattern(analyzer, ascii)
    )
    flat = pc.list_flatten(lists)
    counts = pc.list_value_length(lists).to_numpy(zero_copy_only=False)
    counts = np.nan_to_num(counts, nan=0).astype(np.int64)
    row_id_all = np.repeat(np.arange(n, dtype=np.int64), counts)
    kept = pc.not_equal(flat, "").to_numpy(zero_copy_only=False)
    # tokenizer positions = cumcount of non-empty within row
    csum = np.cumsum(kept, dtype=np.int64)
    row_start = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=row_start[1:])
    base = np.where(row_start[:-1] > 0, csum[row_start[:-1] - 1], 0)
    pos_all = csum - 1 - np.repeat(base, counts)

    codes_all, dictionary = _encode(flat, lower_tokens)

    kept_final = kept
    if stop_words:
        stop_mask = pc.is_in(
            dictionary, value_set=pa.array(stop_words)
        ).to_numpy(zero_copy_only=False)
        stop_codes = np.flatnonzero(stop_mask)
        if stop_codes.size:
            kept_final = kept & ~np.isin(codes_all, stop_codes)

    # doc_len = kept tokens per row AFTER filters (consistent with the
    # pandas path, which counts the post-filter frame)
    kf = np.cumsum(kept_final, dtype=np.int64)
    doc_len = (kf[row_start[1:] - 1] - np.where(
        row_start[:-1] > 0, kf[row_start[:-1] - 1], 0
    )).astype(np.int32)
    doc_len[counts == 0] = 0

    sel = np.flatnonzero(kept_final)
    return row_id_all[sel], codes_all[sel], pos_all[sel], dictionary, doc_len
