"""Include/exclude glob matching vs the reference's *executed* fixed
points (tests/commons/glob/test_glob.py: 10 / 8 / 5 / 3 counts, the
pathMatchesGlob vectors, and the visitor contract) — run on the
reference's own fixture tree, plus pathlib cross-checks and the
distributed column form."""

from pathlib import Path

import pytest

from py_sema_spark.functions.globbery import (
    GlobMatchVisitor,
    glob_filter_col,
    matching_glob_paths,
    path_matches_glob,
    visit_glob_paths,
)

REF_GLOB = Path("/root/reference/tests/data/glob")

pytestmark = pytest.mark.skipif(
    not REF_GLOB.exists(), reason="reference fixtures not available"
)


class TestMatchingGlobPaths:
    def test_reference_counts(self):
        assert len(matching_glob_paths(REF_GLOB)) == 10
        assert len(matching_glob_paths(REF_GLOB, only_files=True)) == 8
        assert len(matching_glob_paths(REF_GLOB, includes="**/*.txt")) == 5
        assert (
            len(
                matching_glob_paths(
                    REF_GLOB,
                    includes=["**/*.txt"],
                    excludes=["050/*.txt"],
                )
            )
            == 3
        )

    @pytest.mark.parametrize(
        "path, glob, expected",
        [
            ("./sub/file.txt", "**/*.txt", True),
            ("./sub/file.txt", "**/f*.txt", True),
            ("./sub/file.txt", "**/1*.txt", False),
            ("./sub/file.txt", "*.txt", True),
            ("./sub/file.txt", "*.xml", False),
        ],
    )
    def test_path_matches_glob_vectors(self, path, glob, expected):
        assert path_matches_glob(REF_GLOB / path, glob) == expected

    def test_match_parity_with_pathlib(self):
        """Our match-regex mirrors Path.match on this interpreter for
        every (fixture path × pattern) pair."""
        pats = ["*.txt", "*/*", "050/*.txt", "**/*.txt", "0?0.csv",
                "[0-9]*.xml", "080/*"]
        for rel in matching_glob_paths(REF_GLOB):
            for pat in pats:
                assert path_matches_glob(rel, pat) == Path(rel).match(pat), (
                    rel, pat,
                )


class TestVisitor:
    def test_reference_visitor_contract(self):
        class V(GlobMatchVisitor):
            def __init__(self):
                self.excluded = []

            def visitExcluded(self, path):
                self.excluded.append(path)

            def visitFile(self, path, applying):
                out = {"is_file": True, "in_sub": False}
                for a in applying:
                    out.update(a(path))
                return out

            def visitDirectory(self, path, applying):
                out = {"is_dir": True, "in_sub": False}
                for a in applying:
                    out.update(a(path))
                return out

        applying = {
            "*.xml": lambda p: {"is_xml": True},
            "*.txt": lambda p: {"is_txt": True},
            "*.csv": lambda p: {"is_csv": True},
            "*.json": lambda p: {"is_json": True},
            "*/*": lambda p: {"in_sub": True},
        }
        v = V()
        results = visit_glob_paths(v, REF_GLOB, includes="**/*",
                                   applying=applying)
        assert len(results) == 10
        assert v.excluded == []
        assert results[Path("010.txt")] == {
            "is_file": True, "is_txt": True, "in_sub": False,
        }
        assert results[Path("050/060.txt")] == {
            "is_file": True, "is_txt": True, "in_sub": True,
        }
        assert results[Path("050")] == {"is_dir": True, "in_sub": False}

    def test_excluded_paths_are_reported(self):
        class V(GlobMatchVisitor):
            def __init__(self):
                self.excluded = []

            def visitExcluded(self, path):
                self.excluded.append(str(path))

            def visitFile(self, path, applying):
                return "f"

            def visitDirectory(self, path, applying):
                return "d"

        v = V()
        visit_glob_paths(
            v, REF_GLOB, includes="**/*.txt", excludes="050/*.txt"
        )
        assert sorted(v.excluded) == ["050/060.txt", "050/100.txt"]


class TestColumnForm:
    def test_distributed_filter_matches_driver(self, spark):
        from pyspark.sql import functions as F

        rels = [p.as_posix() for p in matching_glob_paths(REF_GLOB)]
        df = spark.createDataFrame([(r,) for r in rels], "path string")
        got = {
            r["path"]
            for r in df.where(
                glob_filter_col(
                    F.col("path"), includes=["**/*.txt"],
                    excludes=["050/*.txt"],
                )
            ).collect()
        }
        want = {
            p.as_posix()
            for p in matching_glob_paths(
                REF_GLOB, includes=["**/*.txt"], excludes=["050/*.txt"]
            )
        }
        assert got == want and len(got) == 3


class TestReviewRegressions:
    """Round-3 fixes: trailing-** Path.glob parity, clean/normalise
    string-vs-column lockstep, RFC 6570 NULL handling."""

    def test_trailing_doublestar_matches_dirs(self, tmp_path):
        (tmp_path / "data" / "sub").mkdir(parents=True)
        (tmp_path / "data" / "f.txt").write_text("x")
        from pathlib import Path

        got = sorted(
            str(p) for p in matching_glob_paths(tmp_path, "data/**")
        )
        want = sorted(
            str(p.relative_to(tmp_path)) for p in Path(tmp_path).glob("data/**")
        )
        assert got == want and got  # dirs only, non-empty

    def test_clean_uri_col_no_double_encoding(self, spark):
        from urllib.parse import quote

        from pyspark.sql import functions as F

        from py_sema_spark.functions.clean import CLEAN_SAFE, clean_uri_col

        vals = ["a b", 'say "hi"', "50%", "a b%c\"d'"]
        df = spark.createDataFrame([(v,) for v in vals], "v string")
        got = [r["c"] for r in df.select(
            clean_uri_col(F.col("v")).alias("c")).collect()]
        want = [quote(v, safe=CLEAN_SAFE) for v in vals]
        assert got == want

    def test_normalise_scheme_str_escapes_domain(self):
        from py_sema_spark.functions.clean import normalise_scheme_str

        # '.' must not act as a wildcard
        assert (
            normalise_scheme_str("http://schemaXorg/x")
            == "http://schemaXorg/x"
        )
        assert (
            normalise_scheme_str("http://schema.org/x")
            == "https://schema.org/x"
        )

    def test_fmt_scalar_nonfinite(self):
        from py_sema_spark.functions.uritemplate import uritemplate_expand

        assert uritemplate_expand("v/{x}", {"x": float("inf")}) == "v/inf"
