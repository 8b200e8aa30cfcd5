"""Reference-parity text operators as native Column expressions.

Each builder mirrors one operator of the reference app
(/root/reference/nlp_data_tagging.py) with identical semantics, but
expressed as Spark SQL text parsed into one native expression, so the
whole text pipeline stays inside whole-stage codegen — no Python UDFs
anywhere in this module. That is the difference between "runs on 50
PDFs" and "runs on 100 TB": a regex + array expression pipeline scales
linearly with executors and shuffles nothing.

Reference citations (file:line into /root/reference/nlp_data_tagging.py):
- STOP_WORDS set ........................ :19-32
- preprocess_text ....................... :49-66
- simple_tokenize ....................... :68-76
- split_into_sentences .................. :81-84
- extractive_summarization early-exit ... :91-92
- summarize_text truncation ............. :118-130
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Exact copy of the reference's 118-word stopword set (:19-32) — this is
# engine *configuration data* (a word list), not engine code.
STOP_WORDS: frozenset[str] = frozenset({
    'i', 'me', 'my', 'myself', 'we', 'our', 'ours', 'ourselves', 'you',
    'your', 'yours', 'yourself', 'yourselves', 'he', 'him', 'his',
    'himself', 'she', 'her', 'hers', 'herself', 'it', 'its', 'itself',
    'they', 'them', 'their', 'theirs', 'themselves', 'what', 'which',
    'who', 'whom', 'this', 'that', 'these', 'those', 'am', 'is', 'are',
    'was', 'were', 'be', 'been', 'being', 'have', 'has', 'had', 'having',
    'do', 'does', 'did', 'doing', 'a', 'an', 'the', 'and', 'but', 'if',
    'or', 'because', 'as', 'until', 'while', 'of', 'at', 'by', 'for',
    'with', 'through', 'during', 'before', 'after', 'above', 'below',
    'up', 'down', 'in', 'out', 'on', 'off', 'over', 'under', 'again',
    'further', 'then', 'once', 'here', 'there', 'when', 'where', 'why',
    'how', 'all', 'any', 'both', 'each', 'few', 'more', 'most', 'other',
    'some', 'such', 'no', 'nor', 'not', 'only', 'own', 'same', 'so',
    'than', 'too', 'very', 'can', 'will', 'just', 'should', 'now',
})

STOP_WORDS_SORTED: list[str] = sorted(STOP_WORDS)

# The one stopword literal list, for both engines: Spark SQL (the
# helpers below) and the DuckDB oracles. Spark plans ``IN`` over more
# than 10 literals as INSET, a hash-set probe per token (array_contains
# over a literal array scanned all 118 per token: 0.73 s -> 0.41 s on the
# sf0.1 corpus token-frequency pass, round 14).
_STOP_SQL = ", ".join(f"'{w}'" for w in STOP_WORDS_SORTED)


def sql_string(s: str) -> str:
    """``s`` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


# DuckDB equivalent of clean_text, including its lowercase-BEFORE-strip
# order (regexp_replace needs the 'g' flag in DuckDB; Spark's is global
# by default, and DuckDB string literals keep backslashes as they are).
# \p{L}\p{N}_ spells out Python's Unicode \w there too (RE2's \w is
# ASCII-only).
_CLEAN_SQL = (
    "trim(regexp_replace("
    "regexp_replace(lower(regexp_replace(text, '\\s+', ' ', 'g')), '[^\\p{L}\\p{N}_\\s\\.]', ' ', 'g'),"
    " ' +', ' ', 'g'))"
)

# Spark SQL text of each helper, kept beside the DuckDB text it mirrors.
# A helper is ONE ``F.expr`` call, a few py4j round trips; built from
# Column calls, tokenize alone made ~600, one per stopword literal and
# per node of its lambda. The parsed expression is the one the Column
# calls built (lambdafunction, INSET), with no Python UDF. A registered
# SQL function would be one call too, but Spark 4.1 rejects one inside
# explode (UNSUPPORTED_SQL_UDF_USAGE) or inside a lambda, and would
# need registering in every session; SQL text needs neither.
_STRIP_RE = "'[^\\\\p{L}\\\\p{N}_\\\\s\\\\.]'"  # Python's Unicode [^\w\s\.]


def _clean_sql(s: str) -> str:
    return (
        f"trim(regexp_replace(regexp_replace(lower(regexp_replace(coalesce({s}, ''), '\\\\s+', ' ')),"
        f" {_STRIP_RE}, ' '), ' +', ' '))"
    )


def _tokens_sql(s: str) -> str:
    return f"filter(split({s}, ' '), t -> length(t) > 2 AND NOT lower(t) IN ({_STOP_SQL}) AND t != '')"


def _sql(col: Column | str) -> str:
    """SQL text of a helper's argument: a column name, SQL text, or
    another helper's Column."""
    return col if isinstance(col, str) else col._text_sql  # noqa: SLF001


def _expr(text: str) -> Column:
    """``text`` as one Column; the text rides along so that another
    helper can nest it."""
    col = F.expr(text)
    col._text_sql = text  # noqa: SLF001
    return col


def clean_text(col: Column | str) -> Column:
    r"""preprocess_text parity (:49-66).

    whitespace collapse → lowercase → strip non-word/space/period chars
    → re-collapse spaces. Pure regexp_replace chain: stays in codegen.

    Order note: the reference strips BEFORE lowercasing (:58, :61); we
    lowercase first so the function is IDEMPOTENT — Java's full case
    mapping can emit combining marks (lower('İ') = 'i' + U+0307) that
    are outside [\p{L}\p{N}_\s.] and would survive one pass but not
    two. Lowering first lets the strip remove such marks immediately
    (also converging with DuckDB's mark-free simple case mapping); for
    every character whose lowercase stays in the same character class —
    i.e. all ordinary text — the result is byte-identical to the
    reference's order. The reference's r'[^\w\s\.]' uses Python's
    UNICODE \w; Java's \w is ASCII-only, so the Unicode classes
    (\p{L}\p{N}_) are spelled out. (\s stays ASCII in both engines; the
    \s+ collapse already normalized exotic whitespace to ' '.)
    """
    return _expr(_clean_sql(_sql(col)))


def tokenize(col: Column | str) -> Column:
    """simple_tokenize parity (:68-76) returning array<string>.

    Splits on spaces, drops STOP_WORDS members (case-insensitive, :74)
    and tokens with len <= 2. Higher-order `filter` runs JVM-side.
    """
    return _expr(_tokens_sql(_sql(col)))


def tokenize_joined(col: Column | str) -> Column:
    """simple_tokenize's actual return type: tokens re-joined by ' ' (:76)."""
    return _expr(f"array_join({_tokens_sql(_sql(col))}, ' ')")


def sentences(col: Column | str) -> Column:
    """split_into_sentences parity (:81-84) returning array<string>.

    re.split(r'[.!?]+') then keep stripped sentences with len > 10.
    """
    return _expr(f"filter(transform(split({_sql(col)}, '[.!?]+'), x -> trim(x)), x -> length(x) > 10)")


def truncate_at_word(col: Column | str, max_length: int) -> Column:
    """summarize_text length control parity (:126-128).

    If len > max_length: take the first max_length chars, cut at the last
    space (Python ``rsplit(' ', 1)[0]`` keeps everything when no space
    exists), append '...'.
    """
    c = _sql(col)
    head = f"substring({c}, 1, {int(max_length)})"
    # position of last space within head = len(head) - locate(' ', reverse(head)) + 1
    rev_pos = f"locate(' ', reverse({head}))"
    cut = f"CASE WHEN {rev_pos} > 0 THEN substring({head}, 1, length({head}) - {rev_pos}) ELSE {head} END"
    return _expr(f"CASE WHEN length({c}) > {int(max_length)} THEN concat({cut}, '...') ELSE {c} END")


def fallback_summary(sentences_col: Column, text_col: Column, num_sentences: int = 3) -> Column:
    """Fallback-path summary parity (:108-116): first/middle/last sentence.

    indices = [0, len//2, -1][:num_sentences]; joined with '. ' + '.'.
    Early exit (:111-112): when len(sentences) <= num_sentences → text.
    """
    n = F.size(sentences_col)
    first = F.element_at(sentences_col, 1)
    middle = F.element_at(sentences_col, (F.floor(n / 2) + 1).cast("int"))
    last = F.element_at(sentences_col, -1)
    picks = [first, middle, last][:num_sentences]
    joined = F.concat(F.concat_ws(". ", *picks), F.lit("."))
    return F.when(n <= num_sentences, text_col).otherwise(joined)


def ngrams(tokens_col: Column | str, n: int) -> Column:
    """Order-preserving n-grams (space-joined) of an array<string>.

    Guarded for short arrays: Spark's ``sequence(1, stop)`` produces a
    DESCENDING [1, 0] when stop < 1 (default step −1), which would index
    element 0 and error — so arrays shorter than n yield [].
    """
    a = _sql(tokens_col)
    # the argument is inside the lambda: a variable name no column has
    parts = ", ".join(f"element_at({a}, ngram_i + {j})" for j in range(n))
    return _expr(
        f"CASE WHEN size({a}) >= {int(n)}"
        f" THEN transform(sequence(1, size({a}) - {int(n) - 1}), ngram_i -> concat_ws(' ', {parts}))"
        " ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def word_count(col: Column | str) -> Column:
    """len(text.split()) equivalent — counts non-empty whitespace tokens."""
    return _expr(f"size(filter(split({_sql(col)}, '\\\\s+'), t -> t != ''))")
