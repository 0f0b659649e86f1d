"""File discovery + content sources (reference S1/S2/S3).

Reference parity:
  - glob discovery with extension allow-list, excluded-folder pruning,
    dotfile exclusion, and size-0 skip — ``discoverFiles``
    (reference src/indexer.ts:350-387); defaults from
    src/config.ts:53-87 (extensions) and src/config.ts:90-104 (folders).
  - UTF-8 text read with invalid bytes replaced by U+FFFD — Node's
    ``fs.readFile(p, "utf8")`` (src/indexer.ts:181) and Java charset
    decoding share the replacement-character convention, so the decoded
    text is byte-identical across the two engines.
  - PDF detection is case-insensitive on the ``.pdf`` suffix
    (src/pdf-extractor.ts:218-220); extraction itself is pluggable here
    (pypdf when available, an injected extractor in tests) because this
    container ships no PDF library — the Spark-side plumbing (binary
    column in, text column out, Arrow-batched) is real either way.

Scale shape: discovery is Spark's distributed file listing — ONE
``binaryFile`` read whose ``pathGlobFilter`` is the Hadoop alternation
``*.{ext1,ext2,...}``, so a call lists the tree once whatever the size
of the allow-list. Metadata-only scans prune the ``content`` column at
ReadSchema level, so "list 100 TB" reads no file bodies. Ingest lists
text and PDF extensions apart (:func:`split_pdf`), once per body class,
so each body is scanned once, by its own decoder. The dotfile and
excluded-folder rules are one path regex alternation, ANDed with the
size-0 skip into one Filter: evaluated per file entry, never requiring
IO. A refresh reads the bodies of just its changed files with
:func:`read_files`, which hands their paths to the reader itself.
"""

from __future__ import annotations

import os
import posixpath
import re
from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Reference src/config.ts:54-87.
DEFAULT_ALLOWED_EXT: tuple[str, ...] = (
    "ts", "tsx", "js", "jsx", "py", "cs", "java", "kt", "kts", "go", "rs",
    "cpp", "c", "h", "hpp", "rb", "php", "swift", "scala", "md", "txt",
    "gradle", "groovy", "json", "yaml", "yml", "xml", "proto", "properties",
    "pdf",
)

#: Reference src/config.ts:92-104.
DEFAULT_EXCLUDED_FOLDERS: tuple[str, ...] = (
    "node_modules", "dist", "build", ".git", "target", "bin", "obj",
    ".cache", "coverage", ".nyc_output",
)


#: Hadoop glob metacharacters. An allowed extension is spliced into the
#: listing's ``*.{a,b}`` filter, so it may contain none of them (the
#: comma separates alternatives).
_EXT_GLOB_META = re.compile(r"[\\*?\[\]{},]")

#: Characters that make the reader glob-expand an explicit path
#: (``SparkHadoopUtil.isGlobPath``); :func:`read_files` escapes them.
_PATH_GLOB_META = re.compile(r"([\\*?\[\]{}])")


def _glob_to_regex(pattern: str) -> str:
    """Translate the reference's folder globs to a path regex. Exact
    folder names become ``**/name/**`` (src/indexer.ts:354-360); patterns
    already containing ``*``/``?`` are used as-is."""
    if "*" not in pattern and "?" not in pattern:
        return rf"(^|/){re.escape(pattern)}/"
    out = []
    i = 0
    while i < len(pattern):
        ch = pattern[i]
        if ch == "*":
            if pattern[i : i + 2] == "**":
                out.append(".*")
                i += 2
                continue
            out.append("[^/]*")
        elif ch == "?":
            out.append("[^/]")
        else:
            out.append(re.escape(ch))
        i += 1
    return "".join(out)


def rel_path_col(root: str) -> F.Column:
    """``file:`` URI → path relative to ``root`` (POSIX separators)."""
    root = root.rstrip("/")
    return F.regexp_replace(
        F.regexp_replace("path", "^file:", ""), "^" + re.escape(root) + "/", ""
    )


def discover_files(
    spark: SparkSession,
    root: str,
    allowed_ext: tuple[str, ...] = DEFAULT_ALLOWED_EXT,
    excluded_folders: tuple[str, ...] = DEFAULT_EXCLUDED_FOLDERS,
    with_content: bool = False,
) -> DataFrame:
    """Reference ``discoverFiles`` (src/indexer.ts:350-387) as a Spark
    listing job → DataFrame(rel_path, file_size[, content]).

    One ``binaryFile`` read whose ``pathGlobFilter`` alternates the
    allowed extensions (applied during listing, the Spark analog of
    fast-glob's pattern expansion; a case-sensitive suffix match on the
    file name), then one predicate that drops
      - dotfiles and dot-dirs (fast-glob ``dot: false``) and the
        excluded folders (src/indexer.ts:354-360), one ``rlike`` of an
        alternation with each rule's regex in ``(?:…)``,
      - zero-byte files (src/indexer.ts:374).
    With ``with_content=False`` the ``content`` column is pruned from
    ReadSchema, so discovery never reads file bodies. An empty allow-list
    matches nothing; an extension holding a glob metacharacter raises
    ``ValueError``. A relative ``root`` is resolved against the current
    directory.
    """
    root = os.path.abspath(root)
    for ext in allowed_ext:
        if _EXT_GLOB_META.search(ext):
            raise ValueError(
                f"allowed extension {ext!r} contains a glob metacharacter"
            )
    if not allowed_ext:
        return _empty_listing(spark, with_content)
    # A (re)scan must observe the current filesystem: Spark's
    # FileStatusCache would otherwise serve a stale listing for a root we
    # listed earlier in the session (the refresh path relies on seeing
    # adds/deletes — the reference re-walks the tree per build,
    # src/indexer.ts:415).
    spark.catalog.refreshByPath(root)
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.{" + ",".join(allowed_ext) + "}")
        .option("recursiveFileLookup", "true")
        .load(root)
    )
    # fast-glob dot:false (no path segment may start with ".") and the
    # excluded folders, as one alternation.
    excluded = "|".join(
        f"(?:{regex})" for regex in (r"(^|/)\.[^/]", *map(_glob_to_regex, excluded_folders))
    )
    return _listing_columns(df, root, with_content).filter(
        ~F.col("rel_path").rlike(excluded) & (F.col("file_size") > 0)
    )


def read_files(
    spark: SparkSession, root: str, rel_paths: Iterable[str]
) -> DataFrame:
    """(rel_path, file_size, content) of exactly ``rel_paths`` under
    ``root`` — the body read of a refresh, which already knows from a
    metadata-only listing which files changed.

    ``binaryFile`` pushes no path predicate into its content read, so a
    filter over :func:`discover_files` would still read every body; the
    paths go to the reader itself instead. The reader glob-expands an
    explicit path, so glob metacharacters in a name are escaped."""
    root = os.path.abspath(root)
    paths = [
        _PATH_GLOB_META.sub(r"\\\1", posixpath.join(root, p)) for p in rel_paths
    ]
    if not paths:
        return _empty_listing(spark, with_content=True)
    df = spark.read.format("binaryFile").load(paths)
    return _listing_columns(df, root, with_content=True).filter(
        F.col("file_size") > 0
    )


def _listing_columns(df: DataFrame, root: str, with_content: bool) -> DataFrame:
    """``binaryFile`` rows → (rel_path, file_size[, content])."""
    return df.select(
        rel_path_col(root).alias("rel_path"),
        F.col("length").alias("file_size"),
        *(["content"] if with_content else []),
    )


def _empty_listing(spark: SparkSession, with_content: bool) -> DataFrame:
    # where(false) makes this an empty local relation, which runs no
    # task; a bare empty createDataFrame runs one per default partition.
    return spark.createDataFrame(
        [],
        "rel_path string, file_size long"
        + (", content binary" if with_content else ""),
    ).where(F.lit(False))


def split_pdf(names: Iterable[str]) -> tuple[tuple[str, ...], tuple[str, ...]]:
    """(text, PDF) halves of ``names``: allowed extensions or listed
    paths. A name is a PDF if ``"." + name`` ends in ``.pdf``, in any
    case (src/pdf-extractor.ts:218-220); for a path the dot changes
    nothing. The glob ``*.<ext>`` lists only names ending in ``.<ext>``,
    so an extension lists PDFs iff ``.<ext>`` is one, and the two halves
    of an allow-list list disjoint files."""
    text, pdf = [], []
    for name in names:
        (pdf if ("." + name).lower().endswith(".pdf") else text).append(name)
    return tuple(text), tuple(pdf)


def _default_pdf_extractor(blobs: pd.Series) -> pd.Series:
    """Extract text from PDF bytes with pypdf. The library is not in this
    container, so absent pypdf this raises NotImplementedError — callers
    (tests) inject a deterministic extractor instead. The mapInPandas
    plumbing around it (binary in, string out, Arrow batches) is real."""
    try:
        import io

        from pypdf import PdfReader
    except ImportError as e:  # pragma: no cover - env-dependent
        raise NotImplementedError(
            "pypdf is not installed; inject pdf_extractor= to read PDFs"
        ) from e
    return blobs.map(
        lambda b: "\n".join(p.extract_text() or "" for p in PdfReader(io.BytesIO(b)).pages)
    )


def _has_text(df: DataFrame) -> DataFrame:
    """Rows with null or empty text are dropped (src/indexer.ts:267-269)."""
    return df.filter(F.col("text").isNotNull() & (F.length("text") > 0))


def decode_utf8(files: DataFrame) -> DataFrame:
    """(rel_path, file_size, content) → (rel_path, file_size, text) of
    text files, UTF-8 decoded JVM-side (replacement-char convention
    matches Node, see module docstring); rows with null or empty text
    are dropped. One scan of the bodies and no Python worker."""
    return _has_text(
        files.withColumn("text", F.decode("content", "UTF-8")).drop("content")
    )


def extract_pdf(
    files: DataFrame,
    pdf_extractor: Callable[[pd.Series], pd.Series] | None = None,
) -> DataFrame:
    """(rel_path, file_size, content) of PDFs → (rel_path, file_size,
    text) through an Arrow-batched ``mapInPandas`` extractor. A failed
    or empty extraction skips that file alone (``readFileContent``'s
    swallow-and-skip, src/indexer.ts:165-188, 267-269): a batch that
    raises is retried row by row and only the rows that raise are
    dropped."""
    extractor = pdf_extractor or _default_pdf_extractor

    def extract_one(blob: bytes) -> str | None:
        try:
            return extractor(pd.Series([blob])).iloc[0]
        except Exception:
            return None

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            try:
                texts = extractor(pdf["content"])
            except Exception:
                texts = pdf["content"].map(extract_one)
            yield pd.DataFrame(
                {
                    "rel_path": pdf["rel_path"],
                    "file_size": pdf["file_size"],
                    "text": texts,
                }
            )

    out_schema = "rel_path string, file_size long, text string"
    return _has_text(files.mapInPandas(extract, schema=out_schema))


def decode_text(
    files: DataFrame,
    pdf_extractor: Callable[[pd.Series], pd.Series] | None = None,
) -> DataFrame:
    """:func:`decode_utf8` and :func:`extract_pdf` of a listing that
    mixes both, split by :func:`split_pdf`'s rule. Each half scans all
    of ``files``; ingest lists each body class on its own instead."""
    pdf = F.lower("rel_path").endswith(".pdf")
    text = decode_utf8(files.filter(~pdf))
    return text.unionByName(extract_pdf(files.filter(pdf), pdf_extractor))


def ensure_within_root(root: str, rel_path: str) -> str:
    """Path-traversal guard (reference ``ensureWithinRoot``,
    src/indexer.ts:320-338): resolve against root, reject anything that
    escapes; the root itself is allowed. Returns the absolute path."""
    root_abs = posixpath.normpath(posixpath.abspath(root))
    abs_path = posixpath.normpath(posixpath.join(root_abs, rel_path))
    if abs_path != root_abs and not abs_path.startswith(root_abs + "/"):
        raise ValueError("Path outside ROOT")
    return abs_path


def within_root_col(path_col: F.Column, root: str = "/corpus") -> F.Column:
    """The traversal guard as a COLUMN — :func:`ensure_within_root`'s
    decision vectorized for a DataFrame of requested paths (batch
    admission control: at scale, path validation is a column predicate
    over millions of requests, not a per-row Python call).

    Same resolution as the Python form (reference ensureWithinRoot,
    src/indexer.ts:320-338): the request is joined to ``root`` (an
    absolute request replaces it, posixpath.join semantics), normalized
    with a segment fold (``.``/empty dropped, ``..`` pops, pops past
    ``/`` clamp there exactly like ``normpath``), and admitted iff the
    resolved absolute path is the root or sits under it.

    Returns ``struct(allowed boolean, norm string)``: ``norm`` is the
    ROOT-RELATIVE normalized path (``''`` = the root itself) when
    allowed, NULL otherwise. Pure JVM HOF fold inside whole-stage
    codegen — no Python, no shuffle."""
    root_abs = posixpath.normpath(posixpath.abspath(root))
    full = F.when(path_col.startswith("/"), path_col).otherwise(
        F.concat(F.lit(root_abs + "/"), path_col)
    )
    init = F.array().cast("array<string>")

    def step(acc: F.Column, x: F.Column) -> F.Column:
        is_pop = x == ".."
        is_noop = (x == ".") | (x == "")
        return (
            F.when(
                is_pop,
                F.slice(
                    acc, F.lit(1), F.greatest(F.size(acc) - 1, F.lit(0))
                ),
            )
            .when(is_noop, acc)
            .otherwise(F.concat(acc, F.array(x)))
        )

    folded = F.aggregate(F.split(full, "/"), init, step)
    resolved = F.concat(F.lit("/"), F.array_join(folded, "/"))
    # POSIX preserves EXACTLY two leading slashes as a distinct root
    # (posixpath.normpath("//x") == "//x", while "/x" and "///x" both
    # live under "/"): a "//"-rooted request can never resolve inside a
    # single-slash root, and the segment fold above would silently
    # collapse the distinction — reject it explicitly so the column
    # guard matches ensure_within_root on this class too.
    posix_double_root = path_col.startswith("//") & ~path_col.startswith(
        "///"
    )
    allowed = (
        (resolved == root_abs) | resolved.startswith(root_abs + "/")
    ) & ~posix_double_root
    norm = F.regexp_replace(
        F.substring(resolved, len(root_abs) + 1, 0x7FFFFFFF), "^/", ""
    )
    return F.struct(
        allowed.alias("allowed"),
        F.when(allowed, norm).alias("norm"),
    )


def normalize_rel_path(p: str | None) -> str:
    """list_files dir normalization (reference src/index.ts:330-341):
    ``"."``/``"./"``/empty → root (""); strip a leading ``./`` or a
    single leading slash, and trailing slashes (the reference resolves
    ``dir`` as a path, so ``src/`` is ``src``); dot-names like ``.git``
    survive."""
    if p is None:
        return ""
    p = p.strip()
    if p in (".", "./", ""):
        return ""
    if p.startswith("./"):
        p = p[2:]
    elif p.startswith("/"):
        p = p[1:]
    return p.rstrip("/")
