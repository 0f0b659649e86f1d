"""Corpus ingest pipeline tests: discovery (S1), decode (S2/S3), chunk
build parity with the reference's splitChunks, store compat (S5/S6),
incremental refresh delta semantics (J1/J2), and the read_file /
list_files query surface.

The expected values come from a pure-Python re-implementation of the
reference algorithms (src/indexer.ts:201-215 splitChunks;
src/indexer.ts:413-511 delta rules), evaluated driver-side on the same
corpus — an in-test oracle, same pattern as the DuckDB oracle for the
fixture queries.
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from mcp_rag_server_spark.operators.fileops import (
    file_catalog,
    file_texts,
    list_files,
    read_file,
)
from mcp_rag_server_spark.sources.files import (
    discover_files,
    ensure_within_root,
    normalize_rel_path,
    read_files,
)
from mcp_rag_server_spark.sources.ingest import (
    STORE_VERSION,
    IngestParams,
    build,
    cold_build,
    load_store,
    save_store,
)


def ref_split_chunks(text: str, size: int = 800, overlap: int = 120) -> list[str]:
    """Reference splitChunks (src/indexer.ts:201-215), verbatim logic."""
    out, i = [], 0
    while i < len(text):
        out.append(text[i : i + size])
        i += max(1, size - overlap)
    return out


CORPUS = {
    "readme.md": "# Title\n" + "lorem ipsum dolor sit amet " * 40,
    "src/main.py": "def main():\n" + "\n".join(f"    x{i} = {i}" for i in range(50)),
    "src/util/helpers.py": "helper " * 10,
    "notes.txt": "line1\r\nline2\r\nline3\nline4",
    "data/config.yaml": "key: value\n" * 30,
    # Excluded by folder rules (src/config.ts:92-104):
    "node_modules/pkg/index.js": "should be excluded",
    "dist/bundle.js": "excluded too",
    # Dotdir / dotfile (fast-glob dot:false):
    ".git/objects/x.txt": "excluded",
    ".hidden.md": "excluded dotfile",
    # Extension not in the allow-list:
    "image.bin": "not allowed ext",
}

# An explicit allow-list keeps the expected file set obvious; the
# 30-extension default is covered by test_discovery_is_one_listing.
TEST_EXTS = ("md", "py", "txt", "yaml", "js", "pdf")
PARAMS = IngestParams(chunk_size=120, chunk_overlap=30, allowed_ext=TEST_EXTS)


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    root = tmp_path_factory.mktemp("corpus")
    for rel, text in CORPUS.items():
        p = root / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(text, encoding="utf-8")
    (root / "empty.txt").write_text("")  # size-0 skip (indexer.ts:374)
    return str(root)


def expected_files() -> dict[str, str]:
    return {
        rel: text
        for rel, text in CORPUS.items()
        if not any(
            seg.startswith(".") or seg in ("node_modules", "dist")
            for seg in rel.split("/")
        )
        and rel.rsplit(".", 1)[-1] in ("md", "py", "txt", "yaml")
    }


def test_discovery_filters(spark, corpus_dir):
    got = {
        r["rel_path"]: r["file_size"]
        for r in discover_files(spark, corpus_dir, allowed_ext=TEST_EXTS).collect()
    }
    exp = {
        rel: len(text.encode()) for rel, text in expected_files().items()
    }
    assert got == exp


def test_relative_root_lists_relative_paths(spark, corpus_dir, monkeypatch):
    """A relative root is resolved against the current directory: its
    rel_paths are the absolute root's, for the listing and the body read."""
    monkeypatch.chdir(os.path.dirname(corpus_dir))
    rel_root = os.path.basename(corpus_dir)

    def rel_paths(df):
        return sorted(r["rel_path"] for r in df.collect())

    want = rel_paths(discover_files(spark, corpus_dir, allowed_ext=TEST_EXTS))
    assert rel_paths(discover_files(spark, rel_root, allowed_ext=TEST_EXTS)) == want
    assert rel_paths(read_files(spark, rel_root, ["notes.txt"])) == ["notes.txt"]


def test_cold_build_matches_reference_chunker(spark, corpus_dir):
    chunks = cold_build(spark, corpus_dir, PARAMS).collect()
    by_path: dict[str, list] = {}
    for r in chunks:
        by_path.setdefault(r["rel_path"], []).append(r)
    exp = expected_files()
    assert set(by_path) == set(exp)
    for rel, text in exp.items():
        rows = sorted(by_path[rel], key=lambda r: r["chunk"])
        assert [r["text"] for r in rows] == ref_split_chunks(
            text, PARAMS.chunk_size, PARAMS.chunk_overlap
        )
        assert [r["chunk"] for r in rows] == list(range(len(rows)))
        assert all(r["file_size"] == len(text.encode()) for r in rows)
        # line_count = split(/\r?\n/).length (indexer.ts:272)
        assert all(
            r["line_count"] == len(text.replace("\r\n", "\n").split("\n"))
            for r in rows
        )
    # Deterministic dense ids ordered by (rel_path, chunk).
    ordered = sorted(chunks, key=lambda r: (r["rel_path"], r["chunk"]))
    assert [r["id"] for r in ordered] == list(range(len(chunks)))


def test_store_roundtrip_and_meta_compat(spark, corpus_dir, tmp_path):
    store = str(tmp_path / "store")
    chunks = cold_build(spark, corpus_dir, PARAMS)
    save_store(chunks, store, PARAMS)
    loaded = load_store(spark, store, PARAMS)
    assert loaded is not None and loaded.count() == chunks.count()
    # Param mismatch → None → cold rebuild (persistence.ts:91-100).
    assert load_store(spark, store, IngestParams(chunk_size=999)) is None
    meta = json.load(open(os.path.join(store, "_meta.json")))
    assert meta["version"] == STORE_VERSION and meta["chunk_size"] == 120


def mutate_corpus(root: str) -> None:
    # size-change edit (caught by the size heuristic, indexer.ts:453-454)
    with open(os.path.join(root, "notes.txt"), "w") as f:
        f.write("completely new notes content, much longer than before!")
    # same-size edit (MISSED by the reference heuristic, indexer.ts:410-411)
    helpers = os.path.join(root, "src/util/helpers.py")
    old = open(helpers).read()
    with open(helpers, "w") as f:
        f.write("HELPER " * 10 if old.startswith("helper") else "helper " * 10)
    # new file
    with open(os.path.join(root, "added.md"), "w") as f:
        f.write("brand new file " * 20)
    # deleted file
    os.remove(os.path.join(root, "data/config.yaml"))


def test_incremental_update_delta_semantics(spark, corpus_dir, tmp_path):
    """A warm build() refreshes the store by the J1/J2 delta rules."""
    root = str(tmp_path / "inc")
    store = str(tmp_path / "inc_store")
    import shutil

    shutil.copytree(corpus_dir, root)
    old_rows = build(spark, root, store, PARAMS).collect()
    mutate_corpus(root)
    new = build(spark, root, store, PARAMS).collect()
    by_path: dict[str, list] = {}
    for r in new:
        by_path.setdefault(r["rel_path"], []).append(r)

    # J1: deleted file's chunks gone.
    assert "data/config.yaml" not in by_path
    # J2: new + size-changed files re-ingested with reference chunking.
    new_text = open(os.path.join(root, "notes.txt")).read()
    assert [
        r["text"] for r in sorted(by_path["notes.txt"], key=lambda r: r["chunk"])
    ] == ref_split_chunks(new_text, PARAMS.chunk_size, PARAMS.chunk_overlap)
    assert "added.md" in by_path
    # Same-size edit missed (documented reference limitation).
    old_helper = [r for r in old_rows if r["rel_path"] == "src/util/helpers.py"]
    got_helper = by_path["src/util/helpers.py"]
    assert sorted(r["text"] for r in got_helper) == sorted(
        r["text"] for r in old_helper
    )
    # Unchanged files keep their ids; new ids are exactly max(surviving
    # id)+1 onward in (rel_path, chunk) order (getMaxId()+1).
    kept = ("readme.md", "src/main.py", "src/util/helpers.py")
    old_ids = {(r["rel_path"], r["chunk"]): r["id"] for r in old_rows}
    for r in new:
        if r["rel_path"] in kept:
            assert r["id"] == old_ids[(r["rel_path"], r["chunk"])]
    max_surviving = max(r["id"] for r in old_rows if r["rel_path"] in kept)
    fresh = sorted(
        (r for r in new if r["rel_path"] not in kept),
        key=lambda r: (r["rel_path"], r["chunk"]),
    )
    assert {r["rel_path"] for r in fresh} == {"added.md", "notes.txt"}
    assert [r["id"] for r in fresh] == list(
        range(max_surviving + 1, max_surviving + 1 + len(fresh))
    )


def test_build_warm_path_end_to_end(spark, corpus_dir, tmp_path):
    root = str(tmp_path / "warm")
    store = str(tmp_path / "warm_store")
    import shutil

    shutil.copytree(corpus_dir, root)
    first = build(spark, root, store, PARAMS)
    first_paths = {r["rel_path"] for r in first.select("rel_path").distinct().collect()}
    assert "data/config.yaml" in first_paths
    mutate_corpus(root)
    second = build(spark, root, store, PARAMS)
    paths = {r["rel_path"] for r in second.select("rel_path").distinct().collect()}
    assert "data/config.yaml" not in paths and "added.md" in paths


def _store_state(store: str):
    """Every parquet file of the store with its mtime, plus _meta.json's
    bytes and mtime: what a build that writes nothing leaves as it was."""
    files = {}
    for d, _, names in os.walk(os.path.join(store, "chunks")):
        for n in names:
            if n.endswith(".parquet"):
                path = os.path.join(d, n)
                files[os.path.relpath(path, store)] = os.stat(path).st_mtime_ns
    meta = os.path.join(store, "_meta.json")
    with open(meta, encoding="utf-8") as f:
        return files, f.read(), os.stat(meta).st_mtime_ns


def test_noop_build_writes_nothing(spark, corpus_dir, tmp_path):
    """A warm build over an unchanged tree returns the same rows and
    leaves every parquet file and _meta.json untouched."""
    store = str(tmp_path / "store")
    first = sorted(map(tuple, build(spark, corpus_dir, store, PARAMS).collect()))
    before = _store_state(store)
    second = build(spark, corpus_dir, store, PARAMS)
    assert _store_state(store) == before
    assert sorted(map(tuple, second.collect())) == first


def _resize_corpus(root: str) -> None:
    """A delta the size key sees in full: a grown file, a new file and a
    deleted file, so a refresh must end equal to a cold build."""
    with open(os.path.join(root, "notes.txt"), "a", encoding="utf-8") as f:
        f.write("\nline5, appended")
    with open(os.path.join(root, "added.md"), "w", encoding="utf-8") as f:
        f.write("brand new file " * 20)
    os.remove(os.path.join(root, "data/config.yaml"))


def _text_rows(df) -> list[tuple]:
    return sorted(map(tuple, df.select("rel_path", "chunk", "text").collect()))


@pytest.mark.parametrize(
    "module, call, nth",
    [("os", "rename", 1), ("os", "rename", 2), ("shutil", "rmtree", 1), ("json", "dump", 1)],
    ids=["rename-1", "rename-2", "rmtree", "meta-dump"],
)
def test_crashed_refresh_recovers(spark, corpus_dir, tmp_path, monkeypatch, module, call, nth):
    """A refresh that dies at any step of its commit (either rename of
    the dir swap, partway through deleting the old copy, or writing
    _meta.json) leaves the previous sidecar and a whole store, from
    before or after the refresh; the next build() refreshes it to the
    tree on disk."""
    import shutil

    from mcp_rag_server_spark.sources import ingest

    root = str(tmp_path / "root")
    shutil.copytree(corpus_dir, root)
    store = str(tmp_path / "store")
    before = _text_rows(build(spark, root, store, PARAMS))
    meta = _store_state(store)[1]
    _resize_corpus(root)
    want = _text_rows(cold_build(spark, root, PARAMS))

    target = getattr(ingest, module)
    real = getattr(target, call)
    calls = []

    def crash_on_nth(*args, **kwargs):
        calls.append(args)
        if len(calls) != nth:
            return real(*args, **kwargs)
        if call == "rmtree":  # delete one data file, then die
            parquet = sorted(f for f in os.listdir(args[0]) if f.endswith(".parquet"))
            os.remove(os.path.join(args[0], parquet[0]))
        raise OSError("crash injected by the test")

    monkeypatch.setattr(target, call, crash_on_nth)
    with pytest.raises(OSError, match="crash injected"):
        build(spark, root, store, PARAMS)
    monkeypatch.undo()

    assert _store_state(store)[1] == meta
    assert _text_rows(load_store(spark, store, PARAMS)) in (before, want)
    assert _text_rows(build(spark, root, store, PARAMS)) == want


def test_refresh_decodes_only_changed_files(spark, tmp_path):
    """A refresh reads the bodies of changed and new files only: the
    injected extractor (it runs in Python workers, so it logs to a file)
    sees a resized PDF again but never the unchanged one. A changed
    file whose name holds glob metacharacters is re-read correctly."""
    root = tmp_path / "delta_root"
    root.mkdir()
    (root / "same.pdf").write_bytes(b"%PDF same")
    (root / "grow.pdf").write_bytes(b"%PDF grow")
    (root / "a[1].md").write_text("bracket name")
    (root / "b{2}*.md").write_text("brace name")
    (root / "plain.txt").write_text("plain text")
    log = tmp_path / "extracted.log"

    def logging_extractor(blobs: pd.Series) -> pd.Series:
        with open(log, "a", encoding="utf-8") as f:
            for b in blobs:
                f.write(bytes(b).decode() + "\n")
        return blobs.map(lambda b: "PDFTEXT " + bytes(b).decode())

    def extracted() -> set[str]:
        seen = set(log.read_text().splitlines()) if log.exists() else set()
        log.unlink(missing_ok=True)
        return seen

    store = str(tmp_path / "delta_store")

    def refresh() -> dict[str, str]:
        rows = build(
            spark, str(root), store, PARAMS, pdf_extractor=logging_extractor
        ).collect()
        return {r["rel_path"]: r["text"] for r in rows}

    refresh()
    assert extracted() == {"%PDF same", "%PDF grow"}
    refresh()
    assert extracted() == set()
    (root / "grow.pdf").write_bytes(b"%PDF grown longer")
    (root / "a[1].md").write_text("bracket name, edited to a new size")
    (root / "b{2}*.md").unlink()
    assert refresh() == {
        "same.pdf": "PDFTEXT %PDF same",
        "grow.pdf": "PDFTEXT %PDF grown longer",
        "a[1].md": "bracket name, edited to a new size",
        "plain.txt": "plain text",
    }
    assert extracted() == {"%PDF grown longer"}


def test_discovery_is_one_listing(spark, tmp_path):
    """Discovery lists the tree once whatever the allow-list size, and
    keeps per-extension semantics: a case-sensitive suffix match on the
    file name."""
    from mcp_rag_server_spark.plans.inspect import plan_string

    root = tmp_path / "exts"
    (root / "sub").mkdir(parents=True)
    for name in ("a.md", "b.MD", "x.md.bak", "c.py", "sub/d.json", "e.unknown", "md"):
        (root / name).write_text("x")
    files = discover_files(spark, str(root))
    assert sorted(r["rel_path"] for r in files.collect()) == [
        "a.md", "c.py", "sub/d.json",
    ]
    assert plan_string(files, "simple").count("FileScan binaryFile") == 1

    for bad in ("m{d", "m,d", "*", "m[d]", "m?", "m\\d"):
        with pytest.raises(ValueError, match="glob metacharacter"):
            discover_files(spark, str(root), allowed_ext=("md", bad))

    empty = discover_files(spark, str(root), allowed_ext=(), with_content=True)
    assert empty.columns == ["rel_path", "file_size", "content"]
    assert empty.collect() == []


def test_discovery_adversarial_tree(spark, tmp_path):
    """One listing predicate keeps exactly the expected paths: dot
    segments at any depth, exact excluded names as whole segments at any
    depth (a name holding regex metacharacters included), the ``*``,
    ``**`` and ``?`` folder globs, a zero-byte file, and file names with
    regex metacharacters."""
    keep = (
        "a+b.md", "(x).md", "$.md", "src/[y].md", "src/a.b/c.md",
        "xnode_modules/i.md", "node_modules_x/i.md", "src/builder/o.md",
        "gen/a.md", "cache/a.md", "src/snapshot/a.md", "cpp/a.md",
    )
    drop = (
        ".top.md", ".dir/a.md", "src/.a/c.md", "src/x/.hidden.md",
        "a/b/c/.d/e.md", "node_modules/i.md", "deep/er/node_modules/p/i.md",
        "build/o.md", "src/build/o.md", "gen-1/a.md", "gen-/a.md",
        "cache1/a.md", "src/snap/a.md", "a/b/snap/c/d.md", "c++/a.md",
        "x/c++/a.md", "notes.txt",
    )
    _write_tree(tmp_path / "adv", {rel: f"body of {rel}" for rel in keep + drop})
    (tmp_path / "adv" / "zero.md").write_text("")
    excluded = ("node_modules", "build", "gen-*", "**/snap/**", "cache?", "c++")
    files = discover_files(spark, str(tmp_path / "adv"), ("md",), excluded)
    assert sorted(r["rel_path"] for r in files.collect()) == sorted(keep)


def test_pdf_plumbing_with_injected_extractor(spark, tmp_path):
    root = tmp_path / "pdfs"
    root.mkdir()
    (root / "doc.pdf").write_bytes(b"%PDF-fake nonsense bytes here")
    (root / "plain.txt").write_text("plain text")

    def fake_extractor(blobs: pd.Series) -> pd.Series:
        return blobs.map(lambda b: f"PDFTEXT({len(b)} bytes)")

    chunks = cold_build(
        spark, str(root), PARAMS, pdf_extractor=fake_extractor
    ).collect()
    by_path = {r["rel_path"]: r for r in chunks}
    assert by_path["doc.pdf"]["text"] == "PDFTEXT(29 bytes)"
    assert by_path["plain.txt"]["text"] == "plain text"


def test_admitting_pdf_reads_no_extra_bytes(spark, corpus_dir, tmp_path):
    """On a tree without PDFs, admitting ``pdf`` changes no body read.
    A cold build's input bytes and task count are the same with and
    without it. A refresh of one changed ``.md`` reads as many bytes
    either way and runs no PDF extraction task. Which files are PDFs
    comes from the name: an extension is PDF-class iff a name it lists
    ends in ``.pdf`` in any case, and a changed path splits by the same
    suffix."""
    import dataclasses
    import shutil

    from mcp_rag_server_spark.obs import profile
    from mcp_rag_server_spark.sources.files import split_pdf

    assert split_pdf(("md", "PDF", "x.pdf", "xpdf", "pdf.md")) == (
        ("md", "xpdf", "pdf.md"),
        ("PDF", "x.pdf"),
    )
    assert split_pdf(()) == ((), ())
    assert split_pdf(["a.md", "d/B.PDF", "pdf.txt"]) == (("a.md", "pdf.txt"), ("d/B.PDF",))

    no_pdf = dataclasses.replace(
        PARAMS, allowed_ext=tuple(e for e in PARAMS.allowed_ext if e != "pdf")
    )
    assert no_pdf.allowed_ext != PARAMS.allowed_ext

    def cold(params):
        return profile(spark, lambda: cold_build(spark, corpus_dir, params))["execute"]

    with_pdf, without = cold(PARAMS), cold(no_pdf)
    assert without["input_bytes"] > 0
    assert (with_pdf["input_bytes"], with_pdf["tasks"]) == (
        without["input_bytes"],
        without["tasks"],
    )

    class LoadLoggingExtractor:
        """Logs each unpickling in a Python worker: once per task of a
        PDF extraction stage, whether or not the task has rows."""

        def __init__(self, log):
            self.log = str(log)

        def __setstate__(self, state):
            self.__dict__.update(state)
            with open(self.log, "a", encoding="utf-8") as f:
                f.write("loaded\n")

        def __call__(self, blobs: pd.Series) -> pd.Series:
            return blobs.map(lambda b: "PDFTEXT")

    log = tmp_path / "loads.log"
    root = tmp_path / "root"
    shutil.copytree(corpus_dir, root)
    build(spark, str(root), str(tmp_path / "a"), no_pdf)
    shutil.copytree(tmp_path / "a", tmp_path / "b")
    with open(root / "readme.md", "a", encoding="utf-8") as f:
        f.write("appended " * 2000)

    def refresh_bytes(store, params):
        stats = profile(
            spark,
            lambda: build(
                spark, str(root), str(tmp_path / store), params,
                pdf_extractor=LoadLoggingExtractor(log),
            ),
        )
        return stats["build"]["input_bytes"]

    assert refresh_bytes("b", PARAMS) == refresh_bytes("a", no_pdf)
    assert not log.exists()
    (root / "doc.pdf").write_bytes(b"%PDF-1.4")
    refresh_bytes("b", PARAMS)
    assert log.exists()


def test_failing_pdf_drops_only_itself(spark):
    """An extraction that raises on one PDF of an Arrow batch skips that
    file alone (src/indexer.ts:165-188): every good PDF of the same
    partition keeps its text."""
    from mcp_rag_server_spark.sources.files import decode_text

    rows = [(f"doc{i}.pdf", 3, bytearray(b"ok%d" % i)) for i in range(6)]
    rows.insert(3, ("bad.pdf", 3, bytearray(b"BAD")))
    rows.append(("plain.txt", 5, bytearray(b"plain")))
    files = spark.createDataFrame(
        rows, "rel_path string, file_size long, content binary"
    ).coalesce(1)

    def picky_extractor(blobs: pd.Series) -> pd.Series:
        if any(bytes(b) == b"BAD" for b in blobs):
            raise ValueError("unreadable PDF")
        return blobs.map(lambda b: "PDF " + bytes(b).decode())

    got = {r["rel_path"]: r["text"] for r in decode_text(files, picky_extractor).collect()}
    assert got == {
        **{f"doc{i}.pdf": f"PDF ok{i}" for i in range(6)},
        "plain.txt": "plain",
    }


def _store_rows(spark, store: str) -> dict:
    """(rel_path, chunk) → (id, stored embedding, embedding recomputed
    from the chunk's text by ``embed_udf``) over the whole store."""
    from mcp_rag_server_spark.functions.embedding import embed_udf

    rows = (
        spark.read.parquet(os.path.join(store, "chunks"))
        .select("rel_path", "chunk", "id", "embedding", embed_udf()("text").alias("want"))
        .collect()
    )
    return {(r["rel_path"], r["chunk"]): (r["id"], r["embedding"], r["want"]) for r in rows}


def test_stored_vectors_equal_recomputed(spark, corpus_dir, tmp_path):
    """Every chunk row carries the embedder's vector of its own text, bit
    for bit in float32, after a cold build and after a refresh; the
    refresh leaves the ids and vectors of unchanged files as they were."""
    import shutil

    root = str(tmp_path / "root")
    shutil.copytree(corpus_dir, root)
    store = str(tmp_path / "store")
    build(spark, root, store, PARAMS)
    before = _store_rows(spark, store)
    assert before and all(emb == want for _, emb, want in before.values())

    mutate_corpus(root)
    build(spark, root, store, PARAMS)
    after = _store_rows(spark, store)
    assert all(emb == want for _, emb, want in after.values())
    touched = {"notes.txt", "src/util/helpers.py", "data/config.yaml", "added.md"}
    kept = {key: v[:2] for key, v in before.items() if key[0] not in touched}
    assert kept and {key: after[key][:2] for key in kept} == kept


@pytest.mark.parametrize("version", [1, 2], ids=["v1", "v2-bucketed"])
def test_old_store_version_is_rebuilt_cold(spark, corpus_dir, tmp_path, version):
    """A store of an older version fails the compat check: build()
    rebuilds it cold instead of refreshing it, which would union rows of
    two schemas. Version 1 has no ``embedding`` column; version 2 could
    be hash-bucketed (``bucket=N`` partition dirs, ``n_buckets`` in its
    meta), which a flat read turns into an extra ``bucket`` column."""
    store = str(tmp_path / "store")
    chunks = cold_build(spark, corpus_dir, PARAMS)
    meta = {
        "version": version,
        "chunk_size": PARAMS.chunk_size,
        "chunk_overlap": PARAMS.chunk_overlap,
        "model_name": PARAMS.model_name,
    }
    if version == 1:
        chunks.drop("embedding").write.parquet(os.path.join(store, "chunks"))
    else:
        chunks.write.parquet(os.path.join(store, "chunks", "bucket=0"))
        meta.update(content_hash=False, n_buckets=4)
    with open(os.path.join(store, "_meta.json"), "w", encoding="utf-8") as f:
        json.dump(meta, f)
    assert load_store(spark, store, PARAMS) is None

    chunks = build(spark, corpus_dir, store, PARAMS)
    assert "embedding" in chunks.columns and "bucket" not in chunks.columns
    assert chunks.filter("embedding IS NULL").count() == 0
    assert load_store(spark, store, PARAMS) is not None


def _codecs(store: str) -> set[str]:
    import pyarrow.parquet as pq

    out = set()
    for d, _, names in os.walk(os.path.join(store, "chunks")):
        for n in names:
            if n.endswith(".parquet"):
                md = pq.ParquetFile(os.path.join(d, n)).metadata
                for rg in range(md.num_row_groups):
                    for c in range(md.num_columns):
                        out.add(md.row_group(rg).column(c).compression)
    return out


def test_store_writes_are_zstd(spark, corpus_dir, tmp_path):
    """Every store write — cold build, refresh, and compaction — writes
    zstd parquet."""
    import shutil

    from mcp_rag_server_spark.sources.ingest import compact_store

    root = str(tmp_path / "root")
    shutil.copytree(corpus_dir, root)
    store = str(tmp_path / "store")
    build(spark, root, store, PARAMS)
    assert _codecs(store) == {"ZSTD"}
    mutate_corpus(root)
    before = _store_state(store)[0]
    build(spark, root, store, PARAMS)
    assert _store_state(store)[0] != before
    assert _codecs(store) == {"ZSTD"}
    compact_store(spark, store, target_file_bytes=16 * 1024)
    assert _codecs(store) == {"ZSTD"}


def test_store_schema_is_the_written_layout(spark, corpus_dir, tmp_path):
    """The declared store schema every store read uses equals the schema
    a reader infers from the files after a cold build, a refresh and a
    compaction, so a layout change without the declaration fails here."""
    import shutil

    from mcp_rag_server_spark.sources.ingest import compact_store

    root = str(tmp_path / "root")
    shutil.copytree(corpus_dir, root)
    store = str(tmp_path / "store")

    def inferred():
        return spark.read.parquet(os.path.join(store, "chunks")).schema

    assert build(spark, root, store, PARAMS).schema == inferred()
    assert load_store(spark, store, PARAMS).schema == inferred()
    mutate_corpus(root)
    assert build(spark, root, store, PARAMS).schema == inferred()
    assert load_store(spark, store, PARAMS).schema == inferred()
    compact_store(spark, store, target_file_bytes=16 * 1024)
    assert load_store(spark, store, PARAMS).schema == inferred()


def test_read_file_line_ranges(spark, corpus_dir):
    chunks = cold_build(spark, corpus_dir, PARAMS)
    texts = file_texts(chunks, PARAMS.chunk_size, PARAMS.chunk_overlap)
    # Reassembly round-trip for every file.
    got = {r["rel_path"]: r["text"] for r in texts.collect()}
    assert got == expected_files()
    # CRLF-tolerant line slicing, 1-based inclusive, clamped
    # (src/index.ts:307-312).
    row = read_file(texts, "notes.txt", 2, 3).first()
    assert row["text"] == "line2\nline3" and row["total_lines"] == 4
    assert read_file(texts, "notes.txt", 3, 99).first()["text"] == "line3\nline4"
    assert read_file(texts, "notes.txt", -5, 1).first()["text"] == "line1"
    assert read_file(texts, "./notes.txt").first()["text"] == CORPUS["notes.txt"]


def test_list_files_semantics(spark, corpus_dir):
    files = discover_files(spark, corpus_dir, allowed_ext=TEST_EXTS)
    cat = file_catalog(files)
    # Root, non-recursive: direct children, dirs first then alpha.
    rows = [(r["path"], r["type"]) for r in list_files(cat).collect()]
    assert rows == [
        ("data", "dir"),
        ("src", "dir"),
        ("notes.txt", "file"),
        ("readme.md", "file"),
    ]
    # Recursive with depth bound.
    rows = [
        r["path"] for r in list_files(cat, "src", recursive=True, max_depth=1).collect()
    ]
    assert rows == ["src/util", "src/main.py"]
    rows = [
        r["path"] for r in list_files(cat, "src", recursive=True).collect()
    ]
    assert rows == ["src/util", "src/main.py", "src/util/helpers.py"]
    # Extension filter suppresses dir rows (src/index.ts:377-388).
    rows = [
        (r["path"], r["type"])
        for r in list_files(cat, recursive=True, include_extensions=[".MD"]).collect()
    ]
    assert rows == [("readme.md", "file")]
    # Limit applied after sort (deliberate divergence).
    rows = [r["path"] for r in list_files(cat, recursive=True, limit=2).collect()]
    assert rows == ["data", "src"]


def test_list_files_trailing_slash(spark, corpus_dir):
    """``src/`` names the directory ``src`` (the reference resolves
    ``dir`` as a path, src/index.ts:342-352)."""
    cat = file_catalog(discover_files(spark, corpus_dir, allowed_ext=TEST_EXTS))
    want = list_files(cat, "src").collect()
    assert want and list_files(cat, "src/").collect() == want


def test_path_guards():
    assert ensure_within_root("/a/b", "x/y.txt") == "/a/b/x/y.txt"
    assert ensure_within_root("/a/b", ".") == "/a/b"
    with pytest.raises(ValueError):
        ensure_within_root("/a/b", "../escape.txt")
    with pytest.raises(ValueError):
        ensure_within_root("/a/b", "x/../../escape.txt")
    assert normalize_rel_path("./src") == "src"
    assert normalize_rel_path("/src") == "src"
    assert normalize_rel_path(".") == ""
    assert normalize_rel_path("./") == ""
    assert normalize_rel_path("src/") == "src"
    assert normalize_rel_path(".git") == ".git"


def test_compact_store_layout(spark, corpus_dir, tmp_path):
    """compact_store: same rows, fewer files, disjoint per-file id ranges
    (parquet min/max stats become file-skipping ranges), meta preserved."""
    import pyarrow.parquet as pq

    from mcp_rag_server_spark.sources.ingest import compact_store

    params = IngestParams()
    store = str(tmp_path / "store")
    chunks = cold_build(spark, str(corpus_dir), params)
    # Fragment the store: 16 tiny files, the post-refresh worst case.
    save_store(chunks.repartition(16), store, params)
    data_dir = os.path.join(store, "chunks")
    frag_files = [
        f for f in os.listdir(data_dir) if f.endswith(".parquet")
    ]
    assert len(frag_files) > 4
    before = sorted(
        tuple(r) for r in spark.read.parquet(data_dir).collect()
    )

    # Tiny target size → a handful of range-laid-out files.
    n_written = compact_store(spark, store, target_file_bytes=16 * 1024)
    after_files = [
        os.path.join(data_dir, f)
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    ]
    assert len(after_files) == n_written < len(frag_files)

    after = sorted(tuple(r) for r in spark.read.parquet(data_dir).collect())
    assert after == before

    # Disjoint id ranges: sort files by their min(id) stat; each file's
    # max must be < the next file's min.
    ranges = []
    for path in after_files:
        md = pq.ParquetFile(path).metadata
        idx = [md.schema.column(i).name for i in range(md.num_columns)].index("id")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (lo_a, hi_a), (lo_b, _) in zip(ranges, ranges[1:]):
        assert hi_a < lo_b, ranges

    # The meta sidecar survived and still round-trips through load_store.
    assert load_store(spark, store, params) is not None


def test_dense_chunk_ids_equals_global_row_number(spark):
    """Property: for any per-file chunk counts, dense_chunk_ids equals
    row_number() over (order by file, chunk) - 1 + start_id — the oracle
    semantics it replaces without the global chunk-row sort."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mcp_rag_server_spark.functions.ids import dense_chunk_ids

    # Adversarial shape: uneven counts, names that sort differently than
    # insertion order, a 1-chunk file, a large file.
    counts = {"z/last.txt": 3, "a only.md": 1, "m/mid.py": 7, "a/b.txt": 5,
              "zz.txt": 2, "m/mid2.py": 1}
    rows = [
        (path, chunk)
        for path, n in counts.items()
        for chunk in range(n)
    ]
    chunks = spark.createDataFrame(rows, "rel_path string, chunk int")
    for start in (0, 1, 1000):
        got = dense_chunk_ids(chunks, "rel_path", start_id=start)
        w = Window.orderBy("rel_path", "chunk")
        want = chunks.withColumn(
            "id", (F.row_number().over(w) - 1 + F.lit(start)).cast("long")
        )
        assert sorted(map(tuple, got.select("rel_path", "chunk", "id").collect())) == \
            sorted(map(tuple, want.select("rel_path", "chunk", "id").collect()))


def test_within_root_col_matches_ensure_within_root(spark):
    """The column form of the traversal guard (P5 at scale: a codegen
    predicate over a DataFrame of requests) must agree with the Python
    ensure_within_root on every path shape — allowed iff the Python
    guard doesn't raise, and the normalized path must equal what the
    Python guard resolves (root-relative)."""
    import pyspark.sql.functions as F

    from mcp_rag_server_spark.sources.files import within_root_col

    root = "/a/b"
    cases = [
        "x/y.txt", ".", "./", "", "./x.txt", "x/../y.txt", "x/./y.txt",
        "x//y.txt", "..", "../escape.txt", "x/../../escape.txt",
        "/abs.txt", "/a/b/inside.txt", "a/b/../../..", "x/y/../..",
        "...", "..hidden", "x/...txt",
        # POSIX double-slash root: exactly two leading slashes are a
        # DISTINCT root (normpath preserves them), three or more are not
        "//a/b/x.txt", "//x.txt", "///a/b/x.txt",
    ]
    expected = []
    for p in cases:
        try:
            abs_path = ensure_within_root(root, p)
            norm = abs_path[len(root):].lstrip("/")
            expected.append((p, True, norm))
        except ValueError:
            expected.append((p, False, None))

    df = spark.createDataFrame([(p,) for p in cases], "req string")
    got = {
        r["req"]: (r["v"]["allowed"], r["v"]["norm"])
        for r in df.select(
            "req", within_root_col(F.col("req"), root=root).alias("v")
        ).collect()
    }
    for p, allowed, norm in expected:
        assert got[p] == (allowed, norm), (p, got[p], (allowed, norm))


def test_within_root_col_property_parity(spark):
    """Property parity for the column traversal guard: on arbitrary
    '/'-joined segment sequences (names, '', '.', '..', dot-names,
    optionally absolute), within_root_col's (allowed, norm) must equal
    ensure_within_root's outcome. One Spark job for all generated
    cases (per-case jobs would swamp the property test)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    import pyspark.sql.functions as F

    from mcp_rag_server_spark.sources.files import within_root_col

    root = "/a/b"
    cases = []
    seg = st.sampled_from(
        # "a" and "b" spell the root itself, so //a/b/... shapes appear
        ["x", "y", "doc.txt", "", ".", "..", "...", "..hidden", "a b",
         "a", "b"]
    )

    @settings(
        max_examples=120,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        segs=st.lists(seg, min_size=0, max_size=6),
        prefix=st.sampled_from(["", "/", "//", "///"]),
    )
    def collect(segs, prefix):
        cases.append(prefix + "/".join(segs))

    collect()
    expected = {}
    for p in set(cases):
        try:
            abs_path = ensure_within_root(root, p)
            expected[p] = (True, abs_path[len(root):].lstrip("/"))
        except ValueError:
            expected[p] = (False, None)

    df = spark.createDataFrame([(p,) for p in expected], "req string")
    got = {
        r["req"]: (r["v"]["allowed"], r["v"]["norm"])
        for r in df.select(
            "req", within_root_col(F.col("req"), root=root).alias("v")
        ).collect()
    }
    for p, want in expected.items():
        assert got[p] == want, (p, got[p], want)


def _write_tree(root, files: dict[str, str]) -> None:
    for rel, text in files.items():
        p = root / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(text, encoding="utf-8")


def test_cold_build_reads_each_body_once(spark, tmp_path):
    """On a tree with no PDF and nothing under an excluded folder, a cold
    build scans exactly the listed bytes (src/indexer.ts:165-188 reads
    each file once): the per-file chunk counts, the chunks and their
    vectors read one exchange of the decoded texts. The store's file
    count follows that exchange's AQE sizing, not the listing's splits."""
    from mcp_rag_server_spark.obs import profile

    root = tmp_path / "once"
    _write_tree(root, {
        f"d{i % 3}/f{i:02d}.{('md', 'py', 'txt')[i % 3]}": f"file {i} " * (20 + 37 * i)
        for i in range(24)
    })
    listing = discover_files(spark, str(root), PARAMS.allowed_ext, PARAMS.excluded_folders)
    listed = sum(r["file_size"] for r in listing.collect())
    assert listed == sum(p.stat().st_size for p in root.rglob("*") if p.is_file())

    stats = profile(spark, lambda: cold_build(spark, str(root), PARAMS))
    assert stats["execute"]["input_bytes"] == listed

    with_content = discover_files(
        spark, str(root), PARAMS.allowed_ext, PARAMS.excluded_folders, with_content=True
    )
    assert with_content.rdd.getNumPartitions() > 1
    store = str(tmp_path / "once_store")
    build(spark, str(root), store, PARAMS)
    data = os.path.join(store, "chunks")
    assert len([n for n in os.listdir(data) if n.endswith(".parquet")]) == 1


def test_refresh_reads_grown_bodies_once(spark, tmp_path):
    """A refresh of k grown files reads those k bodies once. Two
    refreshes from copies of one store, whose k grown files differ only
    in size, read the same store bytes (delta keys, surviving max id,
    the survivors' rewrite), so their input bytes differ by exactly the
    bodies' size difference times the number of body scans: one."""
    import shutil

    from mcp_rag_server_spark.obs import profile

    root = tmp_path / "grow"
    _write_tree(root, {f"f{i:02d}.md": f"small {i}\n" * 3 for i in range(12)})
    store = str(tmp_path / "grow_store")
    build(spark, str(root), store, PARAMS)
    grown = ("f03.md", "f07.md", "f11.md")

    def refresh(tag: str, repeat: int) -> tuple[int, int]:
        """(input bytes of the refresh, size of the grown bodies)."""
        tree, copy = tmp_path / f"tree_{tag}", str(tmp_path / f"store_{tag}")
        shutil.copytree(root, tree)
        shutil.copytree(store, copy)
        for i, name in enumerate(grown):
            with open(tree / name, "a", encoding="utf-8") as f:
                f.write(f"grown {i} " * repeat * (i + 1))
        stats = profile(spark, lambda: build(spark, str(tree), copy, PARAMS))
        paths = {r["rel_path"] for r in load_store(spark, copy, PARAMS).collect()}
        assert paths == {f"f{i:02d}.md" for i in range(12)}
        return stats["build"]["input_bytes"], sum((tree / n).stat().st_size for n in grown)

    small_read, small_bodies = refresh("small", 200)
    big_read, big_bodies = refresh("big", 2000)
    assert small_read >= small_bodies
    assert big_read - small_read == big_bodies - small_bodies


#: Names whose code-point order differs from the order they are written
#: and listed in: ' ' < '-' < '/' < digits < upper < '_' < lower < 'ä'.
_ADVERSARIAL_NAMES = (
    "zz.md", "ä.md", "a/b.md", "a-b.md", "a b.md", "aa.md", "B/c.txt",
    "b/C.txt", "a_b.py", "9.txt", "10.txt", "Z.md",
)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_build_ids_equal_global_row_number(spark, tmp_path, seed):
    """Property: a cold build's stored ids equal ``row_number() over
    (order by rel_path, chunk) - 1`` on trees with uneven chunk counts,
    a one-chunk file and names that sort differently than listed; a
    refresh keeps every survivor's id and numbers the new chunks from
    max(id)+1 in the same order (src/indexer.ts:393-400)."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rng = random.Random(seed)
    names = list(_ADVERSARIAL_NAMES)
    rng.shuffle(names)
    lengths = [rng.choice((1, 40, 90, 91, 300, 1000, 2500)) for _ in names]
    lengths[0] = 50  # a one-chunk file
    root = tmp_path / "ids"
    _write_tree(root, {n: ("x" * (n_chars - 1)) + "\n" for n, n_chars in zip(names, lengths)})
    store = str(tmp_path / "ids_store")

    def stored():
        w = Window.orderBy("rel_path", "chunk")
        return {
            (r["rel_path"], r["chunk"]): (r["id"], r["want"])
            for r in build(spark, str(root), store, PARAMS)
            .withColumn("want", F.row_number().over(w) - 1)
            .collect()
        }

    cold = stored()
    counts = {n: len(ref_split_chunks((root / n).read_text(), 120, 30)) for n in names}
    assert len(set(counts.values())) > 2 and 1 in counts.values()
    assert len(cold) == sum(counts.values())
    assert all(got == want for got, want in cold.values())

    grown = sorted(names)[1::4]
    for n in grown:
        with open(root / n, "a", encoding="utf-8") as f:
            f.write("y" * rng.choice((10, 200, 700)))
    refreshed = stored()
    survivors = {k: v[0] for k, v in cold.items() if k[0] not in grown}
    assert {k: refreshed[k][0] for k in survivors} == survivors
    new = sorted(k for k in refreshed if k[0] in grown)
    start = max(survivors.values()) + 1
    assert [refreshed[k][0] for k in new] == list(range(start, start + len(new)))


def test_refresh_ids_continue_from_surviving_max(spark, tmp_path):
    """A refresh that grows the last-sorted file, which holds the highest
    ids, and deletes the one before it numbers its new chunks from
    max(surviving id)+1, not from the max over every old row
    (src/indexer.ts:393-400); the survivors keep their ids."""
    root = tmp_path / "last"
    _write_tree(root, {f"{name}.md": f"{name} " * 60 for name in ("a", "b", "c", "y", "z")})
    store = str(tmp_path / "last_store")

    def ids() -> dict:
        rows = build(spark, str(root), store, PARAMS).collect()
        return {(r["rel_path"], r["chunk"]): r["id"] for r in rows}

    cold = ids()
    assert max(cold, key=cold.get)[0] == "z.md"

    with open(root / "z.md", "a", encoding="utf-8") as f:
        f.write("grown " * 40)
    os.remove(root / "y.md")
    refreshed = ids()
    survivors = {k: v for k, v in cold.items() if k[0] in ("a.md", "b.md", "c.md")}
    assert {k: refreshed[k] for k in survivors} == survivors
    new = sorted(k for k in refreshed if k[0] == "z.md")
    start = max(survivors.values()) + 1
    assert [refreshed[k] for k in new] == list(range(start, start + len(new)))
    assert set(refreshed) == set(survivors) | set(new)


def test_empty_tree_lifecycle(spark, tmp_path):
    """A cold build over a tree with no allowed file writes an empty
    store; a reopen, an add, a delete of every file and another reopen
    each return the right rows. Every build must finish: no step may
    wait on an observation of a plan that runs no task."""
    import threading

    root = tmp_path / "bare"
    _write_tree(root, {"skip.txt": "not in the allow-list"})
    store = str(tmp_path / "bare_store")
    params = IngestParams(chunk_size=120, chunk_overlap=30, allowed_ext=("md",))

    def rows() -> list[tuple]:
        out: list = []
        worker = threading.Thread(
            target=lambda: out.extend(
                (r["id"], r["rel_path"], r["chunk"])
                for r in build(spark, str(root), store, params).collect()
            ),
            daemon=True,
        )
        worker.start()
        worker.join(300)
        assert not worker.is_alive(), "build() did not return"
        return sorted(out)

    assert rows() == []
    assert rows() == []
    (root / "a.md").write_text("x" * 200)
    n = len(ref_split_chunks("x" * 200, 120, 30))
    assert n > 1 and rows() == [(i, "a.md", i) for i in range(n)]
    os.remove(root / "a.md")
    assert rows() == []
    assert rows() == []
