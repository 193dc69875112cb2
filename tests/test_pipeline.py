"""End-to-end pipeline tests: extraction ground truth, linking,
materialization, lineage invariant, checkpoint resume."""

import os

import pytest
from pyspark.sql import functions as F

from pyjelly_spark.operators import extract as X
from pyjelly_spark.operators.linking import link_mentions
from pyjelly_spark.pipeline import (
    PipelineConfig,
    build_triples,
    run_pipeline,
    verify_lineage,
)
from pyjelly_spark.sources.jelly_io import read_jelly, read_manifest_frames

N = 500  # matches the source_files_500 fixture


class TestGenerator:
    def test_deterministic(self, spark):
        from pyjelly_spark.sources.source_repos import generate_source_files

        a = generate_source_files(spark, 100).orderBy("path").collect()
        b = generate_source_files(spark, 100).orderBy("path").collect()
        assert a == b

    def test_schema_and_skew(self, spark, source_files_500):
        assert source_files_500.columns == ["repo", "path", "commit", "lang", "content"]
        share = (
            source_files_500.where(F.col("repo") == "repo-0000").count() / N
        )
        assert 0.25 <= share <= 0.35  # mega-repo holds ~30%
        assert source_files_500.select("path").distinct().count() == N

    def test_commit_is_40_hex(self, source_files_500):
        row = source_files_500.first()
        assert len(row["commit"]) == 40
        int(row["commit"], 16)


class TestExtraction:
    """Closed-form ground truth from the generator (FIXTURES.md §1)."""

    def test_counts_match_closed_form(self, source_files_500):
        tri = X.extract_all(source_files_500)
        counts = {
            row["value"]: row["count"]
            for row in tri.groupBy("p.value").count().collect()
        }
        assert counts[X.P_CONTAINS] == N
        assert counts[X.P_LANG] == N
        assert counts[X.P_SHA256] == N
        assert counts[X.P_IMPORTS] == sum(1 + i % 3 for i in range(N))
        assert counts[X.P_DEFINES] == sum(1 + (i % 2 == 0) for i in range(N))
        assert counts[X.P_CALLS] == sum(2 + i % 4 for i in range(N))

    def test_import_edges_exact(self, source_files_500):
        """Spot-check: file i imports pkg{j%13}.mod_{j}, j=(i*31+k*17+1)%N."""
        imports = X.extract_imports(source_files_500)
        got = {
            (row["s"]["value"], row["o"]["value"])
            for row in imports.collect()
        }
        expected = set()
        for i in range(N):
            lang_i = i % 4
            ext = ["py", "js", "java", "go"][lang_i]
            repo = "repo-0000" if i % 10 < 3 else None
            for k in range(1, 2 + i % 3):
                j = (i * 31 + k * 17 + 1) % N
                module = f"pkg{j % 13}.mod_{j}"
                path = f"src/pkg{i % 13}/mod_{i}.{ext}"
                if repo is None:
                    # repo idx for non-mega rows: 1 + (i*KNUTH) % (n_repos-1)
                    from pyjelly_spark.sources.source_repos import (
                        KNUTH,
                        n_repos_for,
                    )

                    repo_i = 1 + (i * KNUTH) % (n_repos_for(N) - 1)
                    repo_str = f"repo-{repo_i:04d}"
                else:
                    repo_str = repo
                expected.add(
                    (
                        f"{X.FILE_BASE}{repo_str}/{path}",
                        f"{X.MODULE_BASE}{module}",
                    )
                )
            repo = None
        assert got == expected

    def test_scan_prunes_columns(self, spark, source_files_500, tmp_path):
        """Against a parquet scan, import extraction must prune to
        repo/path/content (ReadSchema excludes commit and lang)."""
        src = str(tmp_path / "files.parquet")
        source_files_500.write.parquet(src)
        scan = spark.read.parquet(src)
        plan = X.extract_imports(scan)._jdf.queryExecution().executedPlan().toString()
        read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
        assert read_schema, plan
        assert "commit" not in read_schema[0]
        assert "lang" not in read_schema[0]
        assert "content" in read_schema[0]


class TestLinking:
    def test_same_repo_wins(self, spark):
        mentions = spark.createDataFrame(
            [("r1", "src/pkg1/a.py", "f")], "repo: string, path: string, symbol: string"
        )
        defs = spark.createDataFrame(
            [
                ("r2", "src/pkg1/b.py", "f"),
                ("r1", "src/pkg2/c.py", "f"),
                ("r1", "src/pkg1/d.py", "f"),
            ],
            "def_repo: string, def_path: string, symbol: string",
        )
        got = link_mentions(mentions, defs, broadcast_dictionary=True).collect()
        assert len(got) == 1
        assert got[0]["def_repo"] == "r1"
        assert got[0]["def_path"] == "src/pkg1/d.py"  # same repo + same pkg
        assert got[0]["link_score"] == 110

    def test_deterministic_tiebreak(self, spark):
        mentions = spark.createDataFrame(
            [("r1", "src/pkg1/a.py", "f")], "repo: string, path: string, symbol: string"
        )
        defs = spark.createDataFrame(
            [("r2", "x", "f"), ("r3", "x", "f"), ("r2", "w", "f")],
            "def_repo: string, def_path: string, symbol: string",
        )
        got = link_mentions(mentions, defs).collect()
        assert (got[0]["def_repo"], got[0]["def_path"]) == ("r2", "w")


def test_run_pipeline_releases_its_checkpoints(spark, source_files_500, tmp_path):
    """A fused run, a cold staged run and a warm staged rerun (the skip
    path) in one session each leave executor storage as they found it:
    the fused shape releases the compact frame's localCheckpoint after
    its last action, and the staged shape pins nothing.

    It compares the ids of stored RDDs, not their count: RDDs that
    earlier tests checkpointed and no longer reference are freed by
    Spark's ContextCleaner after some JVM GC, at a time this test does
    not control, so a count can fall during the runs without any leak.
    A run passes when it leaves no stored RDD that was not there before."""

    def stored_rdds() -> set[int]:
        return {
            info.id()
            for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }

    before = stored_rdds()
    for resume, label in ((False, "fused"), (True, "cold"), (True, "warm")):
        out = str(tmp_path / f"resume_{resume}")
        config = PipelineConfig(out_dir=out, rows_per_stream=2000, resume=resume)
        assert run_pipeline(spark, source_files_500, config)["n_statements"].sum() > 0
        assert stored_rdds() - before == set(), f"{label} run left storage behind"


def test_fused_and_resume_write_identical_streams(spark, source_files_500, tmp_path):
    """Both execution shapes run one plan: on the same input they write
    byte-identical streams."""
    shas = [
        sorted(
            run_pipeline(
                spark,
                source_files_500,
                PipelineConfig(
                    out_dir=str(tmp_path / f"resume_{resume}"),
                    rows_per_stream=2000,
                    resume=resume,
                ),
            )["stream_sha256"]
        )
        for resume in (False, True)
    ]
    assert shas[0] == shas[1] and len(shas[0]) > 1


class TestMaterialization:
    @pytest.fixture(scope="class")
    def run(self, spark, source_files_500, tmp_path_factory):
        out = str(tmp_path_factory.mktemp("kg") / "out")
        config = PipelineConfig(out_dir=out, rows_per_stream=2000, frame_rows=100)
        manifest = run_pipeline(spark, source_files_500, config)
        return out, config, manifest

    def test_manifest_counts(self, spark, run):
        out, _config, manifest = run
        decoded = read_jelly(spark, out)
        assert decoded.count() == int(manifest["n_statements"].sum())

    def test_all_stages_present(self, spark, run):
        out, _config, _manifest = run
        preds = {
            row["p_value"]
            for row in read_jelly(spark, out).select("p_value").distinct().collect()
        }
        assert {
            X.P_CONTAINS,
            X.P_LANG,
            X.P_SHA256,
            X.P_IMPORTS,
            X.P_DEFINES,
            X.P_CALLS,
            X.P_CALLS_RESOLVED,
            X.P_CANONICAL,
        } <= preds

    def test_lineage_invariant(self, spark, source_files_500, run):
        out, _config, _manifest = run
        total, matched = verify_lineage(spark, source_files_500, out)
        assert total == N
        assert matched == N

    def test_streams_independent_and_ordered(self, run):
        """Each part file must be a self-contained Jelly stream whose
        statement order follows (repo, path, kind_rank)."""
        out, _config, manifest = run
        for file in manifest["file"]:
            frames = read_manifest_frames(file)
            assert frames[0]["rows"] > 0

    def test_resume_skips_completed(self, spark, source_files_500, run):
        out, config, manifest = run
        parts = sorted(f for f in os.listdir(out) if f.endswith(".jelly"))
        victim = os.path.join(out, parts[0])
        victim_id = int(parts[0].split("-")[1].split(".")[0])
        original_bytes = open(victim, "rb").read()
        os.remove(victim)
        manifest2 = run_pipeline(spark, source_files_500, config)
        rewritten = set(manifest2[manifest2["skipped"] == 0]["partition_id"])
        skipped = set(manifest2[manifest2["skipped"] == 1]["partition_id"])
        assert rewritten == {victim_id}
        assert skipped == set(manifest["partition_id"]) - {victim_id}
        # deterministic replan -> byte-identical partition content
        assert open(victim, "rb").read() == original_bytes


class TestCanonicalization:
    def test_shared_symbols_get_canonical(self, spark, source_files_500):
        config = PipelineConfig(out_dir="/tmp/unused", link_calls=False)
        triples = build_triples(X.extract_compact(source_files_500), config)
        canon = triples.where(F.col("p.value") == X.P_CANONICAL)
        rows = canon.select(
            F.col("s.value").alias("site"), F.col("o.value").alias("target")
        ).collect()
        assert rows, "expected canonical triples for colliding shared_* symbols"
        # every canonical target must itself be a def-site IRI
        for row in rows:
            assert row["target"].startswith("http://kg.example/def/")
        # all def sites of one symbol agree on one canonical target
        grouped = canon.groupBy(F.regexp_extract("s.value", r"#(\w+)$", 1)).agg(
            F.countDistinct("o.value").alias("n")
        )
        assert grouped.where(F.col("n") != 1).count() == 0


class TestSourceReaderAndStageGuard:
    def test_read_source_table_parquet_fallback(self, spark, source_files_500, tmp_path):
        from pyjelly_spark.sources.source_repos import read_source_table

        loc = str(tmp_path / "src_tbl")
        source_files_500.write.parquet(loc)
        df = read_source_table(spark, loc)
        assert df.columns == ["repo", "path", "commit", "lang", "content"]
        assert df.count() == 500

    def test_read_source_table_schema_validation(self, spark, tmp_path):
        from pyjelly_spark.sources.source_repos import read_source_table

        loc = str(tmp_path / "bad_tbl")
        spark.range(5).write.parquet(loc)
        import pytest as _pytest

        with _pytest.raises(ValueError, match="missing columns"):
            read_source_table(spark, loc)

    def test_stage_rebuilds_when_input_changes(self, spark, tmp_path):
        import os

        from pyjelly_spark.pipeline import PipelineConfig, run_pipeline
        from pyjelly_spark.sources.source_repos import generate_source_files

        out = str(tmp_path / "kg_out")
        cfg = PipelineConfig(out_dir=out, rows_per_stream=10_000, resume=True)
        m1 = run_pipeline(spark, generate_source_files(spark, 200), cfg)
        stage_mtime = os.path.getmtime(os.path.join(out, "_compact", "_SUCCESS"))
        # same input -> stage reused (mtime unchanged)
        run_pipeline(spark, generate_source_files(spark, 200), cfg)
        assert os.path.getmtime(
            os.path.join(out, "_compact", "_SUCCESS")
        ) == stage_mtime
        # different input -> fingerprint mismatch -> stage rebuilt
        m3 = run_pipeline(spark, generate_source_files(spark, 300), cfg)
        assert os.path.getmtime(
            os.path.join(out, "_compact", "_SUCCESS")
        ) != stage_mtime
        assert int(m3["n_statements"].sum()) > int(m1["n_statements"].sum())


def test_arrow_extraction_matches_catalyst(spark, source_files_500):
    """The pandas/Arrow mention sweep and the Catalyst regexp path agree."""
    from collections import Counter

    from pyspark.sql import functions as F

    from pyjelly_spark.operators import extract as X
    from pyjelly_spark.operators.extract import extract_mentions_arrow

    arrow = Counter(
        (r["repo"], r["path"], r["kind"], r["symbol"])
        for r in extract_mentions_arrow(source_files_500).collect()
    )
    catalyst = Counter()
    for kind, pattern in (("import", X.IMPORT_RE), ("def", X.DEF_RE), ("call", X.CALL_RE)):
        rows = source_files_500.select(
            "repo",
            "path",
            F.explode(
                F.regexp_extract_all("content", F.lit(pattern), F.lit(1))
            ).alias("symbol"),
        ).collect()
        for r in rows:
            catalyst[(r["repo"], r["path"], kind, r["symbol"])] += 1
    assert arrow == catalyst
    assert sum(arrow.values()) > 1000


def test_extraction_precision_recall_vs_ground_truth(spark, source_files_500):
    """The north-star fidelity criterion, computed explicitly: P/R of
    extracted triples against the generator's closed-form ground truth
    (BASELINE.json: P/R >= 0.95; this engine should achieve 1.0)."""
    from pyjelly_spark.operators import extract as X
    from pyjelly_spark.sources.source_repos import (
        KNUTH,
        LANGS,
        N_PKGS,
        N_SHARED_SYMBOLS,
        n_repos_for,
    )

    n = 500
    n_repos = n_repos_for(n)
    exts = ["py", "js", "java", "go"]
    truth = set()
    for i in range(n):
        repo_idx = 0 if i % 10 < 3 else 1 + (i * KNUTH) % (n_repos - 1)
        repo = f"repo-{repo_idx:04d}"
        lang = LANGS[i % 4]
        path = f"src/pkg{i % N_PKGS}/mod_{i}.{exts[i % 4]}"
        file_iri = f"{X.FILE_BASE}{repo}/{path}"
        truth.add((f"{X.REPO_BASE}{repo}", X.P_CONTAINS, file_iri))
        truth.add((file_iri, X.P_LANG, lang))
        for k in range(1, 2 + i % 3):
            t = (i * 31 + k * 17 + 1) % n
            truth.add(
                (file_iri, X.P_IMPORTS, f"{X.MODULE_BASE}pkg{t % N_PKGS}.mod_{t}")
            )
        truth.add((file_iri, X.P_DEFINES, f"{X.SYMBOL_BASE}f_{i}_0"))
        if i % 2 == 0:
            truth.add(
                (file_iri, X.P_DEFINES, f"{X.SYMBOL_BASE}shared_{i % N_SHARED_SYMBOLS}")
            )
        for k in range(1, 2 + i % 4):
            t = (i * 13 + k * 7 + 3) % n
            truth.add((file_iri, X.P_CALLS, f"{X.SYMBOL_BASE}f_{t}_0"))
        truth.add(
            (file_iri, X.P_CALLS, f"{X.SYMBOL_BASE}shared_{(i + 1) % N_SHARED_SYMBOLS}")
        )

    extracted = {
        (r["s"]["value"], r["p"]["value"], r["o"]["value"])
        for r in X.extract_all(source_files_500).collect()
        if r["p"]["value"] != X.P_SHA256  # sha triples checked by lineage test
    }
    tp = len(extracted & truth)
    precision = tp / len(extracted)
    recall = tp / len(truth)
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)
    assert precision == 1.0 and recall == 1.0, (precision, recall)


def test_distributed_nt_reader_matches_local(spark):
    """spark.read.text + mapInPandas tokenizer == the local fixture reader,
    over the reference's own e2e corpus files."""
    from pyjelly_spark.jelly.nt import read_ntriples
    from pyjelly_spark.sources.nt_source import read_nt

    nt = "/root/reference/tests/e2e_test_cases/triples_rdf_1_1/weather.nt"
    if not os.path.exists(nt):
        pytest.skip(f"{nt} not available")
    local = list(read_ntriples(nt))
    dist = read_nt(spark, nt).collect()
    assert len(dist) == len(local)
    local_set = set(local)

    def to_term(kind, value, lang, datatype):
        if kind is None:
            return None
        if kind == "lit":
            return ("lit", value, lang, datatype)
        if kind == "dg":
            return ("dg",)
        return (kind, value)

    dist_set = {
        (
            to_term(r["s_kind"], r["s_value"], r["s_lang"], r["s_datatype"]),
            to_term(r["p_kind"], r["p_value"], r["p_lang"], r["p_datatype"]),
            to_term(r["o_kind"], r["o_value"], r["o_lang"], r["o_datatype"]),
        )
        for r in dist
    }
    assert dist_set == local_set

    nq = "/root/reference/tests/e2e_test_cases/quads_rdf_1_1/weather-quads.nq"
    quads = read_nt(spark, nq).collect()
    assert len(quads) == len(list(read_ntriples(nq)))
    assert any(r["g_kind"] is not None for r in quads)


def test_distributed_quads_roundtrip(spark, tmp_path):
    """NQ fixture -> Spark writer (QUADS physical type) -> distributed
    decode: statement multiset identity across the full sink/source path."""
    from collections import Counter

    from pyjelly_spark.jelly import constants as jc
    from pyjelly_spark.sources.jelly_io import read_jelly, write_jelly
    from pyjelly_spark.sources.nt_source import read_nt

    nq = "/root/reference/tests/e2e_test_cases/quads_rdf_1_1/weather-quads.nq"
    if not os.path.exists(nq):
        pytest.skip(f"{nq} not available")
    stmts = read_nt(spark, nq).repartition(2)
    out = str(tmp_path / "quads_out")
    options = jc.StreamOptions(
        physical_type=jc.PHYSICAL_QUADS, logical_type=jc.LOGICAL_FLAT_QUADS
    )
    manifest = write_jelly(stmts, out, options, resume=False)
    assert int(manifest["n_statements"].sum()) == stmts.count()

    def key(r, prefix_slots):
        return tuple(
            (r[f"{s}_kind"], r[f"{s}_value"], r[f"{s}_lang"], r[f"{s}_datatype"])
            for s in prefix_slots
        )

    # null graph slots written as the default graph -> normalize on compare
    def norm_g(k):
        (gk, gv, gl, gd) = k[3]
        if gk is None or gk == "dg":
            return k[:3] + (("dg", None, None, None),)
        return k

    written = Counter(
        norm_g(key(r, ("s", "p", "o", "g"))) for r in stmts.collect()
    )
    decoded = Counter(
        norm_g(key(r, ("s", "p", "o", "g")))
        for r in read_jelly(spark, out).collect()
    )
    assert decoded == written


class TestResumeFingerprint:
    def test_content_change_same_rowcount_rebuilds(self, spark, tmp_path):
        """The input digest catches content edits that keep the row count
        (the stale-resume footgun the old count-only fingerprint missed)."""
        import os

        from pyjelly_spark.pipeline import PipelineConfig, run_pipeline
        from pyjelly_spark.sources.source_repos import generate_source_files

        out = str(tmp_path / "kg_out")
        cfg = PipelineConfig(out_dir=out, rows_per_stream=10_000, resume=True)
        base = generate_source_files(spark, 100)
        run_pipeline(spark, base, cfg)
        marker = os.path.join(out, "_compact", "_SUCCESS")
        mtime = os.path.getmtime(marker)
        # same rows, one commit value flipped -> digest differs -> rebuild
        edited = base.withColumn(
            "commit",
            F.when(F.col("path") == base.select("path").first()[0], F.lit("x" * 40))
            .otherwise(F.col("commit")),
        )
        run_pipeline(spark, edited, cfg)
        assert os.path.getmtime(marker) != mtime

    def test_frame_rows_change_invalidates_outputs_not_stage(self, spark, tmp_path):
        """Framing knobs re-encode the streams but reuse the compact
        checkpoint (two-level fingerprint)."""
        import os

        from pyjelly_spark.pipeline import PipelineConfig, run_pipeline
        from pyjelly_spark.sources.source_repos import generate_source_files

        out = str(tmp_path / "kg_out")
        base = generate_source_files(spark, 100)
        cfg1 = PipelineConfig(out_dir=out, rows_per_stream=10_000, resume=True)
        m1 = run_pipeline(spark, base, cfg1)
        marker = os.path.join(out, "_compact", "_SUCCESS")
        mtime = os.path.getmtime(marker)
        first_file = sorted(
            f for f in os.listdir(out) if f.endswith(".jelly")
        )[0]
        bytes1 = open(os.path.join(out, first_file), "rb").read()

        cfg2 = PipelineConfig(
            out_dir=out, rows_per_stream=10_000, resume=True, frame_rows=7
        )
        m2 = run_pipeline(spark, base, cfg2)
        # checkpoint untouched, outputs rewritten (nothing skipped) with new framing
        assert os.path.getmtime(marker) == mtime
        assert set(m2["skipped"]) == {0}
        bytes2 = open(os.path.join(out, first_file), "rb").read()
        assert bytes1 != bytes2
        assert int(m2["n_statements"].sum()) == int(m1["n_statements"].sum())


class TestPartitionPlanBounded:
    """plan_partitions salts each repo by the compact frame's triple bound
    (file_triple_bound summed per repo), not by a pass over the joined
    triples."""

    @staticmethod
    def compact(spark, n_files, repo, n_imports, n_defs):
        """A synthetic compact frame: file ``id`` of repo ``repo`` has
        ``n_imports`` imports, ``n_defs`` defs and no calls."""
        return spark.range(n_files).select(
            repo.alias("repo"),
            F.concat(F.lit("p"), F.col("id").cast("string")).alias("path"),
            F.lit("python").alias("lang"),
            F.lit("0" * 64).alias("sha"),
            F.array_repeat(F.lit("m"), n_imports.cast("int")).alias("imports"),
            F.array_repeat(F.lit("f"), n_defs.cast("int")).alias("defs"),
            F.array().cast("array<string>").alias("calls"),
        )

    def test_many_small_repos_collect_nothing(self, spark):
        """plan_partitions' driver collect holds only mega-repos: with
        every repo's bound under rows_per_stream the big list is empty and
        the plan still covers all rows with salt 0."""
        from pyjelly_spark.pipeline import PipelineConfig, plan_partitions

        compact = self.compact(
            spark, 5000, F.concat(F.lit("r"), (F.col("id") % 1000).cast("string")),
            F.lit(0), F.lit(0),
        )
        cfg = PipelineConfig(out_dir="/tmp/unused", rows_per_stream=100)
        planned = plan_partitions(compact, X.triples_from_compact(compact), cfg)
        assert planned.count() == 5000 * 3
        # 1000 repos x 5 files x bound 3, all below the threshold -> salt 0
        assert planned.select("salt").distinct().collect() == [
            __import__("pyspark").sql.Row(salt=0)
        ]

    def test_mega_repo_fans_out(self, spark):
        """A mega-repo fans out to ceil(bound / rows_per_stream) salts."""
        from pyjelly_spark.pipeline import PipelineConfig, plan_partitions

        compact = self.compact(spark, 1000, F.lit("mega"), F.col("id") % 3, F.lit(1))
        cfg = PipelineConfig(out_dir="/tmp/unused", rows_per_stream=100)
        planned = plan_partitions(compact, X.triples_from_compact(compact), cfg)
        # per file: 3 structural + imports + 2 x one def (the def triple
        # and its possible canonical triple)
        bound = sum(3 + i % 3 + 2 for i in range(1000))
        n_salts = planned.select("salt").distinct().count()
        assert n_salts == -(-bound // 100) == 60

    def test_bound_covers_every_repo(self, spark, source_files_500):
        """Soundness: with linking and canonicalization on, each repo's
        bound is at least its true row count in build_triples."""
        from pyjelly_spark.pipeline import file_triple_bound

        cfg = PipelineConfig(out_dir="/tmp/unused")
        compact = X.extract_compact(source_files_500)
        bound = dict(
            compact.groupBy("repo").agg(F.sum(file_triple_bound(cfg))).collect()
        )
        actual = dict(build_triples(compact, cfg).groupBy("repo").count().collect())
        assert bound.keys() == actual.keys() and len(actual) > 1
        short = {r: (bound[r], n) for r, n in actual.items() if bound[r] < n}
        assert not short, short


def test_write_nt_roundtrip(spark, tmp_path):
    """Distributed NT writer is the exact dual of the distributed reader:
    fixture -> read_nt -> write_nt -> read_nt gives the same statement
    multiset (triples and quads, escapes included)."""
    from collections import Counter

    from pyjelly_spark.sources.nt_source import read_nt, write_nt

    fixtures = (
        "/root/reference/tests/e2e_test_cases/triples_rdf_1_1/weather.nt",
        "/root/reference/tests/e2e_test_cases/quads_rdf_1_1/weather-quads.nq",
    )
    missing = [f for f in fixtures if not os.path.exists(f)]
    if missing:
        pytest.skip(f"{', '.join(missing)} not available")
    for fixture in fixtures:
        stmts = read_nt(spark, fixture)
        out = str(tmp_path / ("nt_out_" + fixture.split("/")[-1]))
        write_nt(stmts, out)
        back = read_nt(spark, out)

        def key(rows):
            return Counter(tuple(r) for r in rows.collect())

        assert key(back) == key(stmts)


def test_pagerank_int_closed_form(spark):
    """2-node cycle + dangling pointer: ranks computable by hand.

    Graph: a->b, b->a, c->a. N=3, scale S=10^12.
    pr0 = S//3 for all; c's rank is always base (no in-edges);
    a receives b's and c's full contribution, b receives a's.
    """
    from pyjelly_spark.operators.components import pagerank_int

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("c", "a")], ["src", "dst"]
    )
    got = {r["node"]: r["pr"] for r in pagerank_int(edges, iterations=8).collect()}

    S = 10**12
    base = (S * 15 // 100) // 3
    pr = {n: S // 3 for n in "abc"}
    for _ in range(8):
        nxt = {
            "a": base + 85 * (pr["b"] // 1 + pr["c"] // 1) // 100,
            "b": base + 85 * (pr["a"] // 1) // 100,
            "c": base,
        }
        pr = nxt
    assert got == pr
    # sanity: c has no in-edges so its rank is exactly the base term;
    # the a<->b cycle oscillates between iterations but both stay above c
    assert got["c"] == base
    assert got["a"] > got["c"] and got["b"] > got["c"]


def test_spark_submit_pyfiles_end_to_end(tmp_path):
    """The north rule's deployment path: package pyjelly_spark as a
    --py-files zip and run the full pipeline through a REAL spark-submit
    against a 2-executor local-cluster (separate executor JVMs, package
    importable only via the zip). Asserts the submitted job's JSON
    summary agrees with the manifest it wrote."""
    import json
    import shutil
    import subprocess
    import sys

    spark_submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    if not os.path.exists(spark_submit):
        pytest.skip("spark-submit not on this host")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zip_path = str(tmp_path / "pyjelly_spark.zip")
    out_dir = str(tmp_path / "kg_out")
    script = os.path.join(repo, "scripts", "submit_pipeline.py")
    subprocess.run(
        [sys.executable, script, "--build-zip", zip_path],
        check=True, cwd=repo, capture_output=True,
    )
    proc = subprocess.run(
        [
            spark_submit,
            "--master", "local-cluster[2,2,2048]",
            "--py-files", zip_path,
            "--conf", "spark.sql.shuffle.partitions=8",
            "--conf", "spark.ui.enabled=false",
            script, "--n-files", "1000", "--output", out_dir,
        ],
        cwd=repo, capture_output=True, text=True, timeout=600,
        env={**os.environ, "PYSPARK_PYTHON": sys.executable},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["n_files"] == 1000
    assert summary["triples"] > 10_000
    import pandas as pd

    import glob

    rows = [
        json.load(open(p))
        for p in sorted(glob.glob(os.path.join(out_dir, "_manifest", "*.json")))
    ]
    manifest = pd.DataFrame(rows)
    assert int(manifest["n_statements"].sum()) == summary["triples"]
    assert summary["streams"] == len(manifest)


def test_fuzzy_pairs_symspell_blocking(spark):
    from pyjelly_spark.operators.linking import fuzzy_pairs

    terms = ["cat", "cats", "bat", "ct", "dog", "gdo", "", "x"]
    df = spark.createDataFrame([(t,) for t in terms], "term: string")
    got = {
        (r["term_a"], r["term_b"]) for r in fuzzy_pairs(df).collect()
    }
    # insertion (cat/cats), substitution (cat/bat), deletion (cat/ct),
    # empty-vs-1-char; NOT the transposition dog/gdo (distance 2 —
    # shares a deletion variant but the exact filter removes it)
    assert got == {
        ("cat", "cats"), ("bat", "cat"), ("cat", "ct"), ("", "x"),
    }


def test_precision_recall_imperfect_sets(spark):
    from pyjelly_spark.operators.linking import precision_recall

    predicted = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3), ("x", 9)], "k: string, v: long"
    )
    actual = spark.createDataFrame(
        [("a", 1), ("b", 2), ("m", 7), ("n", 8)], "k: string, v: long"
    )
    row = precision_recall(predicted, actual, ["k", "v"]).collect()[0]
    assert (row["tp"], row["fp"], row["fn"]) == (2, 2, 2)
    assert row["precision_x10000"] == 5000 and row["recall_x10000"] == 5000
    # floor scaling: 1/3 -> 3333
    row2 = precision_recall(
        predicted.limit(0).unionByName(
            spark.createDataFrame([("a", 1), ("y", 5), ("z", 6)], "k: string, v: long")
        ),
        actual,
        ["k", "v"],
    ).collect()[0]
    assert row2["precision_x10000"] == 3333 and row2["recall_x10000"] == 2500


def test_fuzzy_pairs_matches_bruteforce_randomized(spark):
    """Property: SymSpell blocking + exact filter == brute-force
    levenshtein(<=1) pairs, over random short strings where deletion
    neighborhoods overlap heavily."""
    import itertools
    import random

    from pyjelly_spark.operators.linking import fuzzy_pairs

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    rng = random.Random(11)
    vocab = sorted({
        "".join(rng.choice("abc") for _ in range(rng.randint(1, 4)))
        for _ in range(40)
    })
    want = {
        (a, b) for a, b in itertools.combinations(vocab, 2) if lev(a, b) <= 1
    }
    df = spark.createDataFrame([(t,) for t in vocab], "term: string")
    got = {(r["term_a"], r["term_b"]) for r in fuzzy_pairs(df).collect()}
    assert got == want and len(want) > 20
