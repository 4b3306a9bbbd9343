"""End-to-end script specs — the reference's own test style
(BasicSparkOperation.executeCode → assert collected rows; see
SURVEY.md §5)."""

import pytest

from streamingpro_spark import parser as P


# ---------------------------------------------------------------------------
# parser unit tests
# ---------------------------------------------------------------------------

def test_split_statements_quotes_and_comments():
    script = """
    -- a comment; with a semicolon
    set a = "x;y";
    select 1 as c as t1;
    """
    stmts = P.split_statements(script)
    assert len(stmts) == 2
    assert stmts[0].startswith("set")


def test_parse_load():
    s = P.parse_statement('load parquet.`/tmp/x` where a="1" and b="2" as t1')
    assert isinstance(s, P.LoadStmt)
    assert (s.format, s.path, s.table) == ("parquet", "/tmp/x", "t1")
    assert s.options == {"a": "1", "b": "2"}


def test_parse_select_strips_trailing_as():
    s = P.parse_statement("select a, b from t where x = 'as foo' as out")
    assert isinstance(s, P.SelectStmt)
    assert s.table == "out"
    assert s.sql.endswith("x = 'as foo'")


def test_parse_save():
    s = P.parse_statement(
        'save overwrite t1 as parquet.`/tmp/o` where fileNum="2" partitionBy a,b')
    assert isinstance(s, P.SaveStmt)
    assert s.mode == "overwrite"
    assert s.partition_by == ["a", "b"]
    assert s.options == {"fileNum": "2"}


def test_parse_train_with_output():
    s = P.parse_statement('train t1 as RandomForest.`/tmp/m` where maxDepth="3" as out')
    assert isinstance(s, P.TrainStmt)
    assert (s.table, s.algorithm, s.path, s.out_table) == ("t1", "RandomForest", "/tmp/m", "out")


def test_parse_command():
    s = P.parse_statement('!desc t1')
    assert isinstance(s, P.CommandStmt)
    assert s.command == "desc"
    assert s.args == ["t1"]


def test_template_merge():
    assert P.template_merge("select * from ${t}", {"t": "x"}) == "select * from x"


# ---------------------------------------------------------------------------
# engine e2e
# ---------------------------------------------------------------------------

def test_minimum_slice(engine, sf_dir):
    df = engine.execute(f"""
    load parquet.`{sf_dir}/lineitem.parquet` as lineitem;
    select l_returnflag, sum(l_quantity) as sum_qty
    from lineitem group by l_returnflag as output;
    """)
    rows = {r["l_returnflag"]: r["sum_qty"] for r in df.collect()}
    assert set(rows) == {"A", "N", "R"}
    assert all(v > 0 for v in rows.values())


def test_set_and_template(engine):
    df = engine.execute("""
    set n = "3";
    select ${n} as v as out;
    """)
    assert df.collect()[0]["v"] == 3


def test_set_sql_type(engine):
    df = engine.execute("""
    set total = `select 21 * 2` where type="sql";
    select ${total} as v as out;
    """)
    assert df.collect()[0]["v"] == 42


def test_set_default_param(engine):
    engine.execute('set a = "1";')
    engine.execute('set a = "2" where type="defaultParam";')
    assert engine.context.env["a"] == "1"


def test_json_str_source(engine):
    df = engine.execute("""
    set data = '''
    {"a": 1, "b": "x"}
    {"a": 2, "b": "y"}
    ''';
    load jsonStr.`data` as t;
    select sum(a) as s from t as out;
    """)
    assert df.collect()[0]["s"] == 3


def test_csv_str_source(engine):
    df = engine.execute("""
    set data = '''
    a,b
    1,x
    2,y
    ''';
    load csvStr.`data` where header="true" as t;
    select count(*) as c from t as out;
    """)
    assert df.collect()[0]["c"] == 2


def test_branching(engine):
    df = engine.execute("""
    set x = "5";
    !if ''':x > 3''';
      select "big" as v as out;
    !else;
      select "small" as v as out;
    !fi;
    """)
    assert df.collect()[0]["v"] == "big"


def test_branching_else(engine):
    df = engine.execute("""
    set x = "1";
    !if ''':x > 3''';
      select "big" as v as out;
    !else;
      select "small" as v as out;
    !fi;
    """)
    assert df.collect()[0]["v"] == "small"


def test_save_and_reload(engine, tmp_path):
    out = str(tmp_path / "o.parquet")
    engine.execute(f"""
    select 1 as a as t1;
    save overwrite t1 as parquet.`{out}`;
    load parquet.`{out}` as t2;
    select a from t2 as out;
    """)
    assert engine.execute("select a from out as final;").collect()[0]["a"] == 1


def test_save_sort_within_partitions_orders_shard_files(engine, tmp_path):
    """repartitionBy + sortWithinPartitions on a path save gives
    position-ORDERED shard files (round-10): each shard's rows land in
    one task, sorted by shard_pos before the write, so reading a shard
    file RAW (pyarrow, no sort) yields monotone positions — the layout
    a sequential training loader consumes with no shuffle and no
    per-file sort.  `sortBy` can't do this: Spark restricts it to the
    bucketBy managed-table path."""
    import glob as _glob
    import pyarrow.parquet as pq
    out = str(tmp_path / "layout_shards")
    engine.execute(f"""
    select id as doc_id, concat('doc ', id) as text
    from range(0, 400) as lo_docs;
    run lo_docs as DeterministicShard.`` where numShards="4" as lo_sharded;
    save overwrite lo_sharded as parquet.`{out}`
        options repartitionBy="shard" and sortWithinPartitions="shard_pos"
        partitionBy shard;
    """)
    files = _glob.glob(f"{out}/shard=*/part-*.parquet")
    assert files, out
    seen_shards = set()
    for f in files:
        poss = pq.read_table(f, columns=["shard_pos"])["shard_pos"] \
            .to_pylist()
        assert poss == sorted(poss), f
        seen_shards.add(f.split("shard=")[1].split("/")[0])
    assert seen_shards == {"0", "1", "2", "3"}
    # one task per shard -> one file per shard dir (plus the ordering
    # above, this makes each shard a single sequential read)
    for sh in seen_shards:
        assert len(_glob.glob(f"{out}/shard={sh}/part-*.parquet")) == 1
    # rendered errors for empty column lists
    import pytest as _pytest
    with _pytest.raises(ValueError, match="repartitionBy"):
        engine.execute(f'save overwrite lo_sharded as parquet.`{out}2` '
                       f'options repartitionBy="";')
    with _pytest.raises(ValueError, match="sortWithinPartitions"):
        engine.execute(f'save overwrite lo_sharded as parquet.`{out}3` '
                       f'options sortWithinPartitions=" ";')


def test_include_script_variable(engine):
    df = engine.execute("""
    set helper = '''select 7 as v as base;''';
    include script.`helper`;
    select v from base as out;
    """)
    assert df.collect()[0]["v"] == 7


def test_connect_meta(engine):
    engine.execute('connect jdbc where url="jdbc:h2:mem:x" and driver="org.h2.Driver" as db1;')
    assert ("jdbc", "db1") in engine.context.connect_meta


def test_raw_sql_passthrough(engine):
    engine.execute("""
    select 10 as a as src;
    create or replace temp view copied as select * from src;
    select a from copied as out;
    """)
    assert engine.execute("select * from out as o2;").collect()[0]["a"] == 10


def test_macro_desc(engine, sf_dir):
    df = engine.execute(f"""
    load parquet.`{sf_dir}/region.parquet` as region;
    !desc region;
    """)
    cols = {r["col_name"] for r in df.collect()}
    assert cols == {"r_regionkey", "r_name"}


def test_macro_println(engine, capsys):
    engine.execute('!println "hello";')
    assert "hello" in capsys.readouterr().out


def test_analyze(engine, sf_dir):
    plan = engine.analyze(f"""
    load parquet.`{sf_dir}/region.parquet` as region;
    select * from region as out;
    """)
    assert plan[0]["op"] == "load"
    assert plan[1]["op"] == "select"


def test_unknown_command_raises(engine):
    with pytest.raises(ValueError, match="unknown command"):
        engine.execute("!nosuchcmd;")


def test_image_source(engine, tmp_path):
    """`load image.`dir`` — Spark's built-in image source (decoded JVM-side;
    reference MLSQLImage.scala)."""
    import base64
    # 1x1 red PNG
    png = base64.b64decode(
        "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR4"
        "nGP8z8BQDwAEhQGAhKmMIQAAAABJRU5ErkJggg==")
    (tmp_path / "img").mkdir()
    (tmp_path / "img" / "red.png").write_bytes(png)
    df = engine.execute(f"""
    load image.`{tmp_path}/img` as imgs;
    select image.origin as origin, image.width as w, image.height as h
    from imgs as out;
    """)
    row = df.collect()[0]
    assert row["w"] == 1 and row["h"] == 1
    assert row["origin"].endswith("red.png")


def test_binary_file_source(engine, tmp_path):
    (tmp_path / "blob.bin").write_bytes(b"\x00\x01payload")
    df = engine.execute(f"""
    load binaryFile.`{tmp_path}/blob.bin` as blobs;
    select path, length, content from blobs as out;
    """)
    row = df.collect()[0]
    assert row["length"] == 9
    assert bytes(row["content"]) == b"\x00\x01payload"


def test_xml_source(engine, tmp_path):
    """`load xml.`path` where rowTag=...` — Spark 4 built-in XML
    (reference MLSQLXML.scala used the spark-xml package)."""
    (tmp_path / "books.xml").write_text(
        "<books><book><title>Spark</title><year>2024</year></book>"
        "<book><title>Flink</title><year>2023</year></book></books>")
    df = engine.execute(f"""
    load xml.`{tmp_path}/books.xml` where rowTag="book" as books;
    select title, year from books order by year as out;
    """)
    rows = [(r["title"], r["year"]) for r in df.collect()]
    assert rows == [("Flink", 2023), ("Spark", 2024)]


def test_xml_save_roundtrip(engine, tmp_path):
    engine.execute(f"""
    select 'a' as name, 1 as v union all select 'b', 2 as t1;
    save overwrite t1 as xml.`{tmp_path}/out_xml` where rowTag="row";
    load xml.`{tmp_path}/out_xml` where rowTag="row" as back;
    """)
    rows = {(r["name"], r["v"]) for r in engine.spark.table("back").collect()}
    assert rows == {("a", 1), ("b", 2)}


def test_every_macro_maps_to_registered_et():
    import re
    from streamingpro_spark.macros import MACROS
    from streamingpro_spark.operators import registry
    registry._ensure_loaded()
    missing = [(n, m.group(1)) for n, tpl in MACROS.items()
               if (m := re.search(r"as (\w+)\.", tpl))
               and m.group(1) not in registry._REGISTRY]
    assert missing == []


def test_macro_registry_covers_reference_list():
    """Registry diff vs the reference macro table
    (tech/mlsql/dsl/CommandCollection.scala:32-97): every reference
    macro is either implemented or on the documented-drop list."""
    from streamingpro_spark.macros import MACROS
    reference = {
        "show", "desc", "kill", "jdbc", "cache", "unCache", "uncache",
        "createPythonEnv", "removePythonEnv", "createPythonEnvFromFile",
        "removePythonEnvFromFile", "resource", "model", "hdfs", "fs",
        "split", "saveUploadFileToHome", "withWartermark", "delta",
        "scheduler", "python", "ray", "plugin", "runScript", "iterator",
        "if", "elif", "then", "else", "fi", "println", "kafkaTool",
        "callback",
    }
    # engine-level statements, not macro expansions (engine.py branch ctx)
    branching = {"if", "elif", "then", "else", "fi"}
    # documented out of scope (SURVEY §7 / MIGRATION.md): conda env mgmt
    # (PythonCommand covers native python), Ray external compute — each
    # must carry a RENDERED drop message, not fail as unknown
    from streamingpro_spark.macros import DOCUMENTED_DROP_MACROS
    dropped = {"createPythonEnv", "removePythonEnv",
               "createPythonEnvFromFile", "removePythonEnvFromFile",
               "ray"}
    assert dropped == set(DOCUMENTED_DROP_MACROS)
    aliased = {"unCache": "uncache"}  # case-variant of an implemented macro
    missing = reference - branching - dropped - set(aliased) - set(MACROS)
    assert missing == set()


def test_documented_drop_macros_render(engine):
    """The PythonEnvExt conda family and !ray fail with a rendered
    explanation (reason + alternative), not `unknown command` — the
    ScalaScriptUDF pattern (round-4 verdict task 7)."""
    import pytest as _pytest
    for name in ("createPythonEnv", "removePythonEnv",
                 "createPythonEnvFromFile", "removePythonEnvFromFile"):
        with _pytest.raises(Exception,
                            match="documented drop.*spark.pyspark.python"):
            engine.execute(f"!{name} env1 py3;")
    with _pytest.raises(Exception, match="documented drop.*PythonAlg"):
        engine.execute("!ray start;")
    # a genuinely unknown macro still says so
    with _pytest.raises(Exception, match="unknown command"):
        engine.execute("!noSuchMacroEver a b;")


def test_include_nonlocal_sources_render(engine):
    """Reference IncludeAdaptor sources with no counterpart here
    (http/store/plugin/lib) fail with a rendered reason + the local
    alternative, not `unsupported include source`."""
    import pytest as _pytest
    with _pytest.raises(Exception, match="no network egress"):
        engine.execute("include http.`example.invalid/script.mlsql`;")
    for fmt in ("store", "plugin", "lib"):
        with _pytest.raises(Exception, match="MLSQL console"):
            engine.execute(f"include {fmt}.`some/script`;")


def test_macro_split(engine, sf_dir):
    """!split → RateSampler (reference CommandCollection.scala:53)."""
    engine.execute(f"""
    load parquet.`{sf_dir}/orders.parquet` as ord;
    select o_orderkey, o_orderstatus from ord limit 100 as small;
    !split small by o_orderstatus rate 0.8,0.2 named splitted;
    """)
    rows = engine.spark.table("splitted").collect()
    assert len(rows) == 100
    assert {r["__split__"] for r in rows} == {0, 1}


def test_macro_run_script(engine):
    """!runScript → RunScript ET (reference CommandCollection.scala:64)."""
    df = engine.execute(
        "!runScript '''select 1 as a as rs_inner;''' named rs_out;")
    assert df.collect()[0]["a"] == 1
    assert engine.spark.table("rs_inner").collect()[0]["a"] == 1


def test_macro_optional_named_tail_defaults_to_uuid(engine, sf_dir):
    """Templates2 default placeholders ({-1:next(named,uuid())},
    Templates2.scala:26-140): `!split`/`!runScript` WITHOUT the
    optional `named <out>` tail auto-generate a uuid-named output
    table (VERDICT r5 ask #4)."""
    before = {v.name for v in engine.spark.catalog.listTables()}
    df = engine.execute(f"""
    load parquet.`{sf_dir}/orders.parquet` as ord_nt;
    select o_orderkey, o_orderstatus from ord_nt limit 50 as small_nt;
    !split small_nt by o_orderstatus rate 0.8,0.2;
    """)
    rows = df.collect()
    assert len(rows) == 50 and {r["__split__"] for r in rows} == {0, 1}
    new = {v.name for v in engine.spark.catalog.listTables()} - before \
        - {"ord_nt", "small_nt"}
    import re as _re
    assert any(_re.fullmatch(r"u[0-9a-f]{31}", n) for n in new), new
    # runScript without `named` also lands in a fresh uuid table
    df2 = engine.execute("!runScript '''select 7 as b as rs_inner2;''';")
    assert df2.collect()[0]["b"] == 7


def test_templates2_default_placeholder_unit():
    """The placeholder engine itself: literal defaults, uuid(),
    next(key,fallback) with and without the key present."""
    from streamingpro_spark.macros import _eval_default
    args = ["a", "named", "out", "b"]
    assert _eval_default("next(named,uuid())", args) == "out"
    assert _eval_default("lit", args) == "lit"
    got = _eval_default("next(missing,uuid())", args)
    assert len(got) == 32 and got[0] == "u"
    assert got != _eval_default("next(missing,uuid())", args)
    assert _eval_default("next(missing,fallback)", args) == "fallback"
    # key present but LAST (no following arg): fall back
    assert _eval_default("next(b,fb)", args) == "fb"


def test_macro_save_upload_file_to_home(engine, tmp_path):
    """!saveUploadFileToHome → DownloadExt (CommandCollection.scala:55)."""
    src = tmp_path / "up.txt"
    src.write_text("payload")
    dst = tmp_path / "home" / "up.txt"
    df = engine.execute(
        f'!saveUploadFileToHome "file://{src}" "{dst}";')
    assert df.collect()[0]["bytes"] == 7
    assert dst.read_text() == "payload"


def test_macro_model_history(engine, tmp_path):
    """!model history → ModelCommand listing keepVersion model dirs
    (reference tech/mlsql/ets/ModelCommand.scala:37-70)."""
    engine.execute("""
    set md = '''
    {"features":[1.0,2.0],"label":0.0}
    {"features":[5.0,6.0],"label":1.0}
    ''';
    load jsonStr.`md` as mh_train;
    select vec_dense(features) as features, label from mh_train as mh_t;
    """)
    path = tmp_path / "mh_model"
    engine.execute(f"""
    train mh_t as LogisticRegression.`{path}` where keepVersion="true" and maxIter="2";
    train mh_t as LogisticRegression.`{path}` where keepVersion="true" and maxIter="2";
    """)
    df = engine.execute(f"!model history {path};")
    rows = df.collect()
    assert [r["version"] for r in rows] == [1, 0]
    assert all("_model_" in r["modelPath"] for r in rows)


def test_save_bucketed_join_has_no_shuffle(engine, sf_dir, tmp_path):
    """Two tables bucketed on the join key join WITHOUT an exchange —
    the co-located join strategy for repeated large joins at scale."""
    import uuid
    spark = engine.spark
    sfx = uuid.uuid4().hex[:8]
    engine.execute(f"""
    load parquet.`{sf_dir}/orders.parquet` as o_src;
    load parquet.`{sf_dir}/lineitem.parquet` as l_src;
    save overwrite o_src as parquet.`bkt_orders_{sfx}` where bucketBy="4,o_orderkey";
    save overwrite l_src as parquet.`bkt_lineitem_{sfx}` where bucketBy="4,l_orderkey";
    """)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.sql(f"""
            select o.o_orderkey, count(*) as n
            from bkt_orders_{sfx} o join bkt_lineitem_{sfx} l
              on o.o_orderkey = l.l_orderkey
            group by o.o_orderkey
        """)
        assert joined.count() > 0
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # bucketed-on-key tables sort-merge join with NO shuffle exchange
        assert "Exchange hashpartitioning" not in plan
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_load_with_schema_option(engine, tmp_path):
    (tmp_path / "d.csv").write_text("1,a\n2,b\n")
    df = engine.execute(f"""
    load csv.`{tmp_path}/d.csv` where schema="v int, name string" as t_ddl;
    select sum(v) as s from t_ddl as out;
    """)
    assert df.first()["s"] == 3
    df2 = engine.execute(f"""
    load csv.`{tmp_path}/d.csv` where
        schema="st(field(v,integer),field(name,string))" as t_dsl;
    select name from t_dsl where v = 2 as out2;
    """)
    assert df2.first()["name"] == "b"


def test_contract_registry_consistency():
    """queries() minus oracle_sql() must be exactly the declared
    rows-only set (keeps the deterministic-order wrap in sync)."""
    import __spark_entry__ as em
    assert set(em.queries()) - set(em.oracle_sql()) == em._ROWS_ONLY
    assert set(em.oracle_sql()) <= set(em.queries())
    for name, sql in em.oracle_sql().items():
        assert "ORDER BY ALL" in sql, name


def test_analyze_cte_excludes_aliases(engine, sf_dir):
    from streamingpro_spark.analyzer import analyze
    result = analyze(f"""
    load parquet.`{sf_dir}/lineitem.parquet` as l;
    with t as (select l_suppkey, sum(l_quantity) q from l group by l_suppkey)
    select * from t where q > 5 as out;
    """, engine.spark)
    inputs = {i["table"] for i in result.as_dict()["inputs"]}
    assert "l" in inputs and "t" not in inputs
    outputs = {o["table"] for o in result.as_dict()["outputs"]}
    assert "out" in outputs


def test_explain_and_describe_return_rows(engine):
    df = engine.execute("select 1 as v as t_ex; explain select * from t_ex;")
    assert df.columns == ["plan"]
    assert "Scan" in df.first()["plan"] or "Project" in df.first()["plan"]
    df2 = engine.execute("select 2 as v as t_de; describe t_de;")
    assert {r["col_name"] for r in df2.collect()} == {"v"}


def test_integration_include_branch_udaf_et(engine):
    """DslSpec-style chain: branch inside an included script variable,
    pandas UDAF after an ET repartition.  (Note: Spark disallows mixing
    GROUPED_AGG pandas UDFs with built-in aggregates in one agg — a
    Spark restriction, not an engine one.)"""
    df = engine.execute("""
    set thresh = "2";
    set body = '''
    !if ":thresh > 1";
      select explode(sequence(1, 6)) as v as nums;
    !else;
      select explode(sequence(1, 3)) as v as nums;
    !fi;
    ''';
    include script.`body`;
    set udaf = '''
import pandas as pd
def apply(s: pd.Series) -> float:
    return float(s.max() - s.min())
''';
    register ScriptUDF.`udaf` as spread options dataType="double"
        and methodName="apply" and udfType="udaf";
    select v % 2 as grp, v from nums as grouped;
    run grouped as TableRepartition.`` where partitionNum="2" as reparted;
    select grp, spread(v) as spr from reparted group by grp order by grp as out;
    """)
    assert [(r["grp"], r["spr"]) for r in df.collect()] == [(0, 4.0), (1, 4.0)]


def test_branch_expression_functions(engine):
    df = engine.execute("""
    set name = "abc";
    set csv = "x,y,z";
    !if '''startsWith(:name, "ab") and len(split(:csv)) == 3''';
      select "yes" as v as out;
    !else;
      select "no" as v as out;
    !fi;
    """)
    assert df.first()["v"] == "yes"


def test_branch_imbalance_is_rendered_error(engine):
    for script in ["!fi;", "!else;", "!elif '''1 > 0''';",
                   "!if '''1 > 0'''; select 1 as v as t;"]:
        with pytest.raises(ValueError, match="matching"):
            engine.execute(script)


def test_bad_inputs_render_value_errors(engine):
    with pytest.raises(ValueError, match="no such variable"):
        engine.execute("include script.`missing_var`;")
    with pytest.raises(ValueError, match="unknown load format"):
        engine.execute("load nosuchformat.`/tmp/x` as t;")


def test_home_prefix_sandboxes_relative_paths(spark, tmp_path):
    """With home set, relative save/load paths resolve under
    {home}/{owner}/ (reference DslAdaptor.withPathPrefix semantics);
    absolute paths pass through."""
    from streamingpro_spark import Engine
    eng = Engine(spark, owner="alice", home=str(tmp_path))
    eng.execute("""
    select 7 as v as t_home;
    save overwrite t_home as parquet.`mydata`;
    load parquet.`mydata` as back;
    select v from back as out;
    """)
    assert (tmp_path / "alice" / "mydata").exists()
    assert eng.execute("select v from out as o;").first()["v"] == 7


def test_macro_missing_output_arg_auto_names(engine):
    """`!runScript` without `named <out>` must not expand to a dangling
    `as ` — the output clause is dropped and the engine auto-names it."""
    df = engine.execute("!runScript '''select 41 + 1 as a as rs_t;''';")
    assert df.collect()[0]["a"] == 42


def test_load_rewrite_hook_masks_column(spark, sf_dir):
    """Load rewrite chain (reference LoadAdaptor.scala:132-136): a
    plugged hook rewrites every loaded DF — here a column mask."""
    from pyspark.sql import functions as F
    from streamingpro_spark import Engine

    def mask_names(ctx, fmt, path, df):
        if "n_name" in df.columns:
            return df.withColumn("n_name", F.lit("***"))
        return df

    eng = Engine(spark)
    eng.context.load_hooks.append(mask_names)
    df = eng.execute(f"""
    load parquet.`{sf_dir}/nation.parquet` as nat_masked;
    select distinct n_name from nat_masked as out;
    """)
    assert [r["n_name"] for r in df.collect()] == ["***"]


def test_result_render_hook(spark, sf_dir):
    """Render chain (reference ResultRenderManager): the hook shapes the
    script's final result."""
    from streamingpro_spark import Engine
    eng = Engine(spark)
    eng.context.render_hooks.append(lambda ctx, df: df.limit(2))
    df = eng.execute(f"""
    load parquet.`{sf_dir}/nation.parquet` as nat_r;
    select n_nationkey from nat_r as out;
    """)
    assert df.count() == 2


def test_grammar_validate_pass(spark, sf_dir):
    """Pass C: syntax errors anywhere in the script surface WITHOUT
    executing any statement (reference SelectGrammarAdaptor)."""
    from streamingpro_spark import Engine
    eng = Engine(spark)
    errs = eng.validate(f"""
    load parquet.`{sf_dir}/region.parquet` as gv_r;
    select r_name frum gv_r as out;
    !nosuchmacro;
    set later = "1";
    select ${{later}} as v as out2;
    """)
    kinds = {(e["statement"], e["kind"]) for e in errs}
    assert (1, "select") in kinds          # bad SQL caught by Spark parser
    assert any(e["kind"] == "command" for e in errs)   # unknown macro
    assert len(errs) == 2                  # resolved-var select is fine
    assert not spark.catalog.tableExists("gv_r")       # nothing executed
    assert eng.validate("select 1 as a as out;") == []


def test_crawlersql_source_offline(engine, tmp_path):
    """`load crawlersql.`url`` — page fetch as a table (reference
    MLSQLCrawlerSql.scala); file:// URL proves the plumbing offline."""
    page = tmp_path / "page.html"
    page.write_text("<html><head><title> Hi There </title></head>"
                    "<body><script>var x=1;</script><p>real text</p>"
                    "</body></html>")
    df = engine.execute(f"""
    load crawlersql.`file://{page}` as page;
    select url, title, body from page as out;
    """)
    row = df.collect()[0]
    assert row["title"] == "Hi There"
    assert row["body"] == "real text"
    assert row["url"].startswith("file://")


def test_crawlersql_fetch_error_rendered(engine):
    import pytest as _pytest
    with _pytest.raises(ValueError, match="crawlersql: fetch failed"):
        engine.execute("load crawlersql.`file:///nonexistent_xyz` as p;")


def test_source_format_registry_covers_reference_list():
    """Registry diff vs the reference's datasource formats
    (DataSourceRegistry.scala + impls in
    streaming/core/datasource/impl/): every reference format is
    registered here, reaches Spark's own source registry via the
    fallback, or is on the documented-drop list."""
    from streamingpro_spark.sources import registry as R
    ours = set(R._LOADERS) | set(R._FILE_FORMATS)
    reference = {
        "csv", "json", "parquet", "orc", "text", "xml", "libsvm", "image",
        "hive", "jdbc", "es", "solr", "hbase", "redis", "mongo",
        "carbondata", "kafka", "kafka8", "kafka9", "adHocKafka", "socket",
        "console", "webConsole", "mockStream", "jsonStr", "csvStr",
        "script", "delta", "binlog", "streamParquet", "streamJDBC",
        "newParquet", "crawlersql", "mlsqlAPI", "mlsqlConf", "_mlsql_",
        "model", "modelList", "modelParams", "modelExample",
        "modelExplain", "binaryFile", "unStructured",
    }
    # reach Spark's source registry through the load fallback (kafka
    # renders a connector hint when the jar is absent) or are stream
    # SINK formats handled by _save_stream, not loaders
    fallback_or_sink = {"kafka", "kafka8", "kafka9", "adHocKafka",
                        "socket", "console", "webConsole", "delta",
                        "newParquet", "streamJDBC"}
    # documented out of scope (SURVEY §7): third-party connector pkgs +
    # the custom binlog socket server
    dropped = {"es", "solr", "hbase", "redis", "mongo", "carbondata",
               "binlog"}
    missing = reference - fallback_or_sink - dropped - ours
    assert missing == set()


def test_versioned_parquet_network_fs_guard(engine, tmp_path,
                                            monkeypatch):
    """On a network/object-store mount the commit flock only serializes
    THIS node's writers — the save must fail fast with a rendered error
    instead of silently taking a no-op lock; assumeSingleWriter="true"
    acknowledges external coordination (VERDICT r5 ask #6)."""
    import pytest as _pytest

    from streamingpro_spark.sources import versioned
    lake = tmp_path / "nfslake"
    monkeypatch.setattr(versioned, "_fs_type", lambda p: "nfs4")
    with _pytest.raises(Exception, match="nfs4"):
        engine.execute(f"""
        select 1 as a as tg1;
        save overwrite tg1 as versionedParquet.`{lake}`;
        """)
    engine.execute(f"""
    select 1 as a as tg2;
    save overwrite tg2 as versionedParquet.`{lake}`
    options assumeSingleWriter="true";
    """)
    # the acknowledgment persists on the LAKE: a later save without the
    # option, and maintenance commands that have no options channel
    # (!delta vacuum/compact), keep working under the same mount
    engine.execute(f"""
    select 2 as a as tgn;
    save append tgn as versionedParquet.`{lake}`;
    """)
    df = engine.execute(f"!delta vacuum {lake};")
    assert df.collect()[0]["orphansRemoved"] == 0
    monkeypatch.setattr(versioned, "_fs_type", lambda p: "ext4")
    engine.execute(f"""
    select 2 as a as tg3;
    save append tg3 as versionedParquet.`{lake}`;
    """)
    got = engine.execute(f"load versionedParquet.`{lake}` as g; "
                         "select sum(a) as s from g as gout;").collect()
    assert got[0]["s"] == 5


def test_fs_type_resolves_local_mount():
    """_fs_type returns a real fstype for / and never a network type
    for this container's local paths."""
    from streamingpro_spark.sources.versioned import (_NETWORK_FS_TYPES,
                                                      _fs_type)
    t = _fs_type("/root/repo")
    assert t not in _NETWORK_FS_TYPES


def test_versioned_parquet_time_travel(engine, tmp_path):
    """versionedParquet: overwrite/append commits, versionAsOf
    snapshots, range reads with __delta_version__, history — the native
    fallback for the reference's Delta surface (MLSQLDelta.scala)."""
    lake = tmp_path / "lake"
    engine.execute(f"""
    select 1 as id, 'a' as v as t0;
    save overwrite t0 as versionedParquet.`{lake}`;
    select 2 as id, 'b' as v as t1;
    save append t1 as versionedParquet.`{lake}`;
    select 9 as id, 'z' as v as t2;
    save overwrite t2 as versionedParquet.`{lake}`;
    """)
    def rows(q):
        return sorted((r["id"], r["v"]) for r in engine.execute(q).collect())
    assert rows(f"load versionedParquet.`{lake}` where versionAsOf=\"0\" as x; "
                "select * from x as out;") == [(1, "a")]
    assert rows(f"load versionedParquet.`{lake}` where versionAsOf=\"1\" as x; "
                "select * from x as out;") == [(1, "a"), (2, "b")]
    # latest (after the second overwrite) resets the lineage
    assert rows(f"load versionedParquet.`{lake}` as x; "
                "select * from x as out;") == [(9, "z")]
    hist = engine.execute(
        f"load versionedParquet.`{lake}` where history=\"true\" as h; "
        "select * from h as out;").collect()
    assert [(r["version"], r["mode"]) for r in hist] == \
        [(0, "overwrite"), (1, "append"), (2, "overwrite")]
    rng = engine.execute(
        f"load versionedParquet.`{lake}` where startingVersion=\"0\" and "
        "endingVersion=\"1\" as r; "
        "select id, __delta_version__ as dv from r as out;").collect()
    assert sorted((r["id"], r["dv"]) for r in rng) == [(1, 0), (2, 1)]


def test_versioned_parquet_error_modes(engine, tmp_path):
    lake = tmp_path / "lake2"
    engine.execute(f"select 1 as a as t; "
                   f"save overwrite t as versionedParquet.`{lake}`;")
    with pytest.raises(ValueError, match="already has"):
        engine.execute(f"select 2 as a as t2; "
                       f"save errorIfExists t2 as versionedParquet.`{lake}`;")
    with pytest.raises(ValueError, match="does not exist"):
        engine.execute(f"load versionedParquet.`{lake}` "
                       'where versionAsOf="7" as x;')


def test_versioned_parquet_schema_evolution(engine, tmp_path):
    """Append commits may add columns; mergeSchema reads the evolved
    snapshot, range reads tolerate missing columns."""
    lake = tmp_path / "evolake"
    engine.execute(f"""
    select 1 as id as e0;
    save overwrite e0 as versionedParquet.`{lake}`;
    select 2 as id, 'x' as extra as e1;
    save append e1 as versionedParquet.`{lake}`;
    """)
    rows = engine.execute(
        f'load versionedParquet.`{lake}` where mergeSchema="true" as m; '
        "select * from m order by id as out;").collect()
    assert [(r["id"], r["extra"]) for r in rows] == [(1, None), (2, "x")]
    rng = engine.execute(
        f'load versionedParquet.`{lake}` where startingVersion="0" as r; '
        "select id, extra, __delta_version__ as dv from r order by id as out;"
    ).collect()
    assert [(r["id"], r["extra"], r["dv"]) for r in rng] == \
        [(1, None, 0), (2, "x", 1)]


def test_validate_reports_truncated_statements(spark):
    """Short/broken statements land in the error list instead of
    crashing the validator (review finding: IndexError escaped)."""
    from streamingpro_spark import Engine
    errs = Engine(spark).validate("load ;")
    assert len(errs) == 1 and errs[0]["statement"] == 0


def test_home_prefix_blocks_path_traversal(spark, tmp_path):
    """'..' in a relative path must not escape the per-owner sandbox."""
    import pytest as _pytest
    from streamingpro_spark import Engine
    eng = Engine(spark)
    eng.context.home = str(tmp_path)
    eng.context.owner = "alice"
    (tmp_path / "bob").mkdir()
    (tmp_path / "bob" / "secret.json").write_text('{"x": 1}')
    with _pytest.raises(PermissionError, match="escapes"):
        eng.execute("load json.`../bob/secret.json` as t;")
    # in-sandbox relative paths still resolve
    (tmp_path / "alice").mkdir()
    (tmp_path / "alice" / "mine.json").write_text('{"x": 2}')
    df = eng.execute("load json.`mine.json` as t; select x from t as out;")
    assert df.collect()[0]["x"] == 2


def test_validate_uses_latest_set_value(engine):
    """`set` overwrites — validate must check the LAST assignment."""
    errs = engine.validate("""
    set q = "select 1 as a";
    set q = "selct 2 frm nope";
    ${q} as t;
    """)
    assert errs, "the reassigned bad SQL must be caught"
    clean = engine.validate("""
    set q = "selct bad";
    set q = "select 1 as a";
    ${q} as t;
    """)
    assert clean == []


def test_analyze_tolerates_runtime_includes(engine):
    """analyze() must not crash on set-then-include scripts that execute
    fine (the include variable exists only at runtime)."""
    out = engine.analyze("""
    set body = '''select 1 as a;''';
    include script.`body`;
    """)
    assert isinstance(out, list)


def test_for_child_inherits_load_hooks(spark):
    """Sub-script engines keep row-filter/column-mask policy."""
    from streamingpro_spark import Engine
    parent = Engine(spark)
    calls = []

    def hook(ctx, fmt, path, df):
        calls.append(fmt)
        return df
    parent.context.load_hooks.append(hook)
    child = Engine.for_child(spark, parent.context)
    assert child.context.load_hooks == parent.context.load_hooks
    assert child.context.checkpoint_files is parent.context.checkpoint_files


def test_if_condition_string_literal_operands(engine):
    """Textual SQL→python rewrites must not corrupt quoted operands."""
    df = engine.execute("""
    set s = "a=b";
    set flag = "true";
    !if ''':s == "a=b"''';
    select 'literal-eq' as branch as out;
    !else;
    select 'broken' as branch as out;
    !fi;
    """)
    assert df.collect()[0]["branch"] == "literal-eq"
    # boolean flag: both spellings work
    for cond in [':flag == true', ':flag == "true"']:
        df = engine.execute(f"""
        set flag = "true";
        !if '''{cond}''';
        select 'yes' as b as out;
        !else;
        select 'no' as b as out;
        !fi;
        """)
        assert df.collect()[0]["b"] == "yes", cond


def test_versioned_parquet_truncated_manifest_self_heals(engine, tmp_path):
    lake = tmp_path / "lake"
    engine.execute(f"""
    set data = '''
    {{"x":1}}
    ''';
    load jsonStr.`data` as t;
    save overwrite t as versionedParquet.`{lake}`;
    """)
    # crash mid-append: truncated trailing line
    mf = lake / "_commits.json"
    with open(mf, "a") as fh:
        fh.write('{"version": 1, "mo')
    df = engine.execute(f"load versionedParquet.`{lake}` as v; select x from v as out;")
    assert df.collect()[0]["x"] == 1
    # next save self-heals the manifest and lands version 1
    engine.execute(f"""
    set data = '''
    {{"x":2}}
    ''';
    load jsonStr.`data` as t2;
    save append t2 as versionedParquet.`{lake}`;
    """)
    hist = engine.execute(
        f'load versionedParquet.`{lake}` where history="true" as h;').collect()
    assert [r["version"] for r in hist] == [0, 1]


def test_versioned_parquet_commit_lock(engine, tmp_path, spark):
    """Commit-race guard: the whole save is serialized by a kernel
    flock — a held lock fails fast with a rendered error, a crashed
    writer's lock releases with its process, and concurrent committers
    never double-list a version."""
    import os
    from streamingpro_spark.sources import versioned

    lake = tmp_path / "lake"
    engine.execute(f"""
    set data = '''
    {{"x":1}}
    ''';
    load jsonStr.`data` as t;
    save overwrite t as versionedParquet.`{lake}`;
    """)
    lock = str(lake / "_commits.json.lock")
    # 1) a lock held by a LIVE process blocks the commit (bounded wait,
    # rendered error) and leaves no side effects
    import subprocess
    import sys as _sys
    holder = subprocess.Popen(
        [_sys.executable, "-c",
         "import fcntl, os, sys, time\n"
         f"fd = os.open({lock!r}, os.O_CREAT | os.O_WRONLY)\n"
         "fcntl.flock(fd, fcntl.LOCK_EX)\n"
         "print('locked', flush=True)\n"
         "time.sleep(30)\n"],
        stdout=subprocess.PIPE, text=True)
    try:
        assert holder.stdout.readline().strip() == "locked"
        import pytest as _pytest
        with _pytest.raises(Exception, match="commit lock"):
            engine.execute(f"""
            set d2 = '''
            {{"x":2}}
            ''';
            load jsonStr.`d2` as t2;
            save append t2 as versionedParquet.`{lake}`
            options commitLockTimeout="0.3";
            """)
        assert [c["version"]
                for c in versioned.read_commits(str(lake))] == [0]
    finally:
        holder.kill()
        holder.wait()
    # 2) a DEAD writer's lock releases with its process (kernel-owned —
    # no staleness heuristics): the same path now commits immediately
    engine.execute(f"""
    set d3 = '''
    {{"x":3}}
    ''';
    load jsonStr.`d3` as t3;
    save append t3 as versionedParquet.`{lake}`;
    """)
    assert [c["version"] for c in versioned.read_commits(str(lake))] == [0, 1]
    # 3) a leftover lock FILE with garbage content is irrelevant — only
    # the flock state matters
    with open(lock, "w") as fh:
        fh.write("not-a-pid")
    engine.execute(f"""
    set d4 = '''
    {{"x":4}}
    ''';
    load jsonStr.`d4` as t4;
    save append t4 as versionedParquet.`{lake}`;
    """)
    assert [c["version"]
            for c in versioned.read_commits(str(lake))] == [0, 1, 2]
    # 4) two engines committing concurrently: saves serialize on the
    # lock (every version unique, typically all succeed); a timed-out
    # waiter errors loudly instead of corrupting, and the final
    # snapshot holds exactly the committed rows
    from streamingpro_spark import Engine
    import threading
    eng2 = Engine(spark)
    errors, ok = [], []

    def committer(eng, tag, n_commits):
        for k in range(n_commits):
            try:
                eng.execute(f"""
                set dd_{tag}_{k} = '''
                {{"x": 100, "src": "{tag}{k}"}}
                ''';
                load jsonStr.`dd_{tag}_{k}` as tt_{tag}_{k};
                save append tt_{tag}_{k} as versionedParquet.`{lake}`;
                """)
                ok.append(f"{tag}{k}")
            except Exception as e:      # version race loser: loud, clean
                errors.append(str(e))

    th1 = threading.Thread(target=committer, args=(engine, "a", 4))
    th2 = threading.Thread(target=committer, args=(eng2, "b", 4))
    th1.start(); th2.start(); th1.join(); th2.join()
    commits = versioned.read_commits(str(lake))
    versions = [c["version"] for c in commits]
    assert len(versions) == len(set(versions)), versions
    # every successful commit is present: 3 pre-existing + len(ok)
    assert len(versions) == 3 + len(ok)
    rows = engine.execute(
        f'load versionedParquet.`{lake}` where mergeSchema="true" as vfin; '
        f"select src from vfin where x = 100 as out_fin;").collect()
    assert sorted(r["src"] for r in rows) == sorted(ok)
    for e in errors:
        assert ("concurrent writer" in e or "commit lock" in e
                or "already exists" in e), e


def test_nested_execute_keeps_double_save_guard_armed(engine):
    """The versionedParquet double-save write-set is cleared per
    TOP-LEVEL execute only: a nested execute() sharing this context
    (sub-script mid-batchScript) must not disarm the outer batch's
    guard (round-9)."""
    ctx = engine.context
    marker = {("lake", "txn", 7)}
    # simulate being inside an outer execute (state is per-thread:
    # context.tls, round-10)
    ctx.tls.exec_depth = 1
    ctx.tls.vp_txn_writes = set(marker)
    engine.execute("select 1 as a as nested_t;")
    assert ctx.tls.vp_txn_writes == marker
    # back at top level: a fresh execute clears it
    ctx.tls.exec_depth = 0
    engine.execute("select 1 as a as nested_t;")
    assert ctx.tls.vp_txn_writes == set()


def test_exec_depth_is_per_thread(engine):
    """Two threads driving execute() on ONE shared context must not
    race the nesting counter: a cross-thread read-modify-write could
    make a top-level execute see depth > 0, skip the write-set clear,
    and later hit the double-write error instead of the replay-skip
    path (round-10 advisor finding).  Each thread's executes must see a
    clean write-set regardless of the other thread's nesting."""
    import threading
    ctx = engine.context
    errs = []
    seen_dirty = []

    def worker():
        try:
            for _ in range(25):
                ctx.tls.vp_txn_writes = {("lake", "txn", 1)}
                engine.execute("select 1 as a as tls_t;")
                # a TOP-LEVEL execute on this thread must have cleared
                # THIS thread's write-set, whatever the other thread does
                if getattr(ctx.tls, "vp_txn_writes", None):
                    seen_dirty.append(True)
                if getattr(ctx.tls, "exec_depth", 0) != 0:
                    seen_dirty.append("depth")
        except Exception as exc:  # pragma: no cover
            errs.append(exc)

    threads = [threading.Thread(target=worker) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    assert not seen_dirty, seen_dirty


def test_default_output_name_is_stable_across_processes(engine):
    """An un-aliased run's output view is named by a stable digest, not
    by the per-process salted str hash, so plans can be diffed between
    runs."""
    import os
    import subprocess
    import sys
    from streamingpro_spark.engine import _default_out_name
    engine.execute("select 1 as doc_id, 'a' as text as dn_docs;"
                   "run dn_docs as ExactDedup.``;")
    name = _default_out_name("ExactDedup", "dn_docs")
    assert engine.context.spark.catalog.tableExists(name)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = ("from streamingpro_spark.engine import _default_out_name; "
            "print(_default_out_name('ExactDedup', 'dn_docs'))")
    names = {subprocess.run([sys.executable, "-c", code], cwd=root,
                            env={**os.environ, "PYTHONHASHSEED": seed},
                            capture_output=True, text=True, check=True)
             .stdout.strip() for seed in ("1", "2")}
    assert names == {name}
