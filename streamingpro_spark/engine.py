"""The script engine: multi-pass execute of an MLSQL-style script.

Mirrors the reference lifecycle (streaming/dsl/ScriptSQLExec.scala:80-148):
  pass A  include expansion (≤10 iterations to fixpoint, :95-109)
  pass B  preprocess — !cmd macro rewrite + ${var} substitution (:111-115)
  pass E  physical — per-statement adaptor dispatch (:144-147, 372-412),
          honoring !if/!else branch context (:326-369)

The optional passes are first-class too:
  pass C  grammar validate — ``validate()`` dry-parses statements
          (select/insert through Spark's own sqlParser) without executing
          (SelectGrammarAdaptor.scala:12-28)
  pass D  auth — ``analyze()`` returns the MLSQLTable-style access list
          (Protocal.scala:67-111); a ``table_auth`` hook enforces it
          before execution (ScriptSQLExec.scala:122-142)
"""

from __future__ import annotations

import os
import zlib
from typing import TYPE_CHECKING

from streamingpro_spark import parser as P
from streamingpro_spark.context import BranchFrame, ExecutionContext
from streamingpro_spark.expr import evaluate_condition
from streamingpro_spark.macros import MACROS, expand_macro

import weakref

# keyed by the LIVE session/context object: an id() key can be reused by
# a NEW session allocated at a freed address, silently skipping setup
_COMMAND_VIEW_SESSIONS: "weakref.WeakSet" = weakref.WeakSet()
_SHIPPED_CONTEXTS: "weakref.WeakSet" = weakref.WeakSet()

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession


def _default_out_name(algorithm: str, table: str) -> str:
    """View name for an un-aliased train/run/predict output.  A stable
    digest, so the name (and every plan over it) is the same in every
    process; the built-in ``hash`` of a str is salted per process."""
    return f"__tmp_{zlib.crc32((algorithm + table).encode()) % 10**8}"


def _ship_package(spark: "SparkSession") -> None:
    """Ship streamingpro_spark to executors (the `--py-files` a cluster
    deploy would use).  Executor Python workers unpickle UDF closures; any
    closure that slips through with a by-reference `streamingpro_spark.*`
    global would otherwise fail when the driver wasn't launched from the
    repo root.  Convention is still by-value nested defs in hot paths —
    this is the backstop that turns a crash into a non-event."""
    sc = spark.sparkContext
    if sc in _SHIPPED_CONTEXTS:
        return
    _SHIPPED_CONTEXTS.add(sc)
    try:
        import tempfile
        import zipfile

        import streamingpro_spark as pkg
        pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
        zpath = os.path.join(tempfile.mkdtemp(prefix="sp_pyfiles_"),
                             "streamingpro_spark.zip")
        with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                if "__pycache__" in root:
                    continue
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        zf.write(full, rel)
        sc.addPyFile(zpath)
    except Exception:
        pass  # shipping is best-effort; by-value closures don't need it


class Engine:
    """``Engine(spark).execute(script)`` — the PySpark equivalent of
    ``ScriptSQLExec.parse(script, listener)`` (reference test harness:
    org/apache/spark/streaming/BasicSparkOperation.scala:127-180)."""

    def __init__(self, spark: "SparkSession", owner: str = "admin",
                 home: str | None = None, register_functions: bool = True,
                 table_auth=None):
        self.spark = spark
        self.context = ExecutionContext(spark=spark, owner=owner, home=home)
        #: pluggable pre-execution table auth (reference pass D,
        #: ScriptSQLExec.scala:122-142 + TableAuth): fn(owner, tables)
        #: where tables is the analyzer's MLSQLTable-style dict list;
        #: return False (or raise) to reject the script.  Stored on the
        #: CONTEXT so sub-script executors (RunScript, foreachBatch
        #: batchScript) inherit it — otherwise `!runScript '''...'''`
        #: would be an auth bypass.
        self.context.extra["table_auth"] = table_auth
        #: optional per-statement progress callback fn(i, total, text) —
        #: the reference's DefaultMLSQLJobProgressListener
        #: (RestController.scala:223-270) surfaces the same counters
        self.progress_callback = None
        # the 1-row `command` dummy view used as input for `run command as ...`
        # (reference: SparkRuntime.scala:200-202); session-keyed guard —
        # catalog.listTables() is a py4j scan that grows with view count
        if spark not in _COMMAND_VIEW_SESSIONS:
            _COMMAND_VIEW_SESSIONS.add(spark)
            spark.createDataFrame([("command",)], "command: string") \
                 .createOrReplaceTempView("command")
        if register_functions:
            from streamingpro_spark.functions.builtin import register_all
            register_all(spark)
        _ship_package(spark)

    # ------------------------------------------------------------------
    def execute(self, script: str) -> "DataFrame | None":
        """Run a script; returns the DataFrame of the last select/output
        table (the reference returns ``getLastSelectTable`` —
        RestController.scala:239-266).  last_table, streamName and the
        !if branch stack are per-execute, like the reference's
        per-request ScriptSQLExecListener — an empty script must not
        replay the previous request's result, and a batch script after a
        streaming one must not silently stay in stream mode.  (env /
        connect / session caches persist across execute() by design —
        REPL-style session state.)"""
        self.context.last_table = None
        self.context.stream_name = None
        self.context.branch_stack = []
        # per TOP-LEVEL execute: versionedParquet's same-batch
        # double-save guard (a REPLAYED batchScript is a new execute()
        # and must take the silent replay-skip path, not the
        # double-write error).  Depth-gated (round-9): a NESTED
        # execute() sharing this context (RunScript, IteratorCommand, a
        # sub-script mid-batchScript) must not clear the outer batch's
        # write-set and silently disarm the guard for later saves.
        # Both depth and write-set live in context.tls (round-10): they
        # are PER-THREAD nesting state, so two threads driving one
        # shared context can never race the counter
        tls = self.context.tls
        if not getattr(tls, "exec_depth", 0):
            tls.vp_txn_writes = set()
        table_auth = self.context.extra.get("table_auth")
        if table_auth is not None:
            from streamingpro_spark.analyzer import analyze
            # analyze the INCLUDE-EXPANDED script — a table hidden
            # behind `include` must not escape the auth pass.
            # best_effort: set-then-include defines the variable at
            # runtime; those includes are auth-checked at splice time
            # (the IncludeStmt branch of _execute_statement)
            expanded = ";\n".join(
                self._expand_includes(P.split_statements(script),
                                      best_effort=True))
            tables = analyze(expanded, self.spark,
                             env=self.context.env).as_dict()
            verdict = table_auth(self.context.owner, tables)
            if verdict is False:
                raise PermissionError(
                    f"table auth rejected script for owner "
                    f"{self.context.owner!r}: "
                    f"{[t['table'] for t in tables['inputs']]} -> "
                    f"{[t['table'] for t in tables['outputs']]}")
        tls.exec_depth = getattr(tls, "exec_depth", 0) + 1
        try:
            stmts = P.split_statements(script)
            for i, raw in enumerate(stmts):
                if self.progress_callback is not None:
                    try:
                        self.progress_callback(i, len(stmts),
                                               raw.strip()[:200])
                    except Exception:
                        pass
                self._execute_statement(raw)
            if self.context.branch_stack:
                raise ValueError("!if without matching !fi at end of script")
        finally:
            tls.exec_depth = getattr(tls, "exec_depth", 1) - 1
            # script-lifetime caches auto-unpersist at script end
            # (reference CleanCacheListener on job end)
            for key in [k for k, v in self.context.cached_tables.items()
                        if isinstance(v, tuple) and v[1] == "script"]:
                df, _ = self.context.cached_tables.pop(key)
                try:
                    df.unpersist()
                except Exception:
                    pass
        ctx = self.context
        if ctx.last_table is not None:
            df = ctx.spark.table(ctx.last_table)
            # result render chain (reference ResultRenderManager hook
            # before RestController returns rows)
            for hook in ctx.render_hooks:
                df = hook(ctx, df)
            return df
        return None

    @classmethod
    def for_child(cls, spark: "SparkSession", parent_context) -> "Engine":
        """Build a sub-script engine inheriting the parent's policy and
        session state (owner, env, connections, table_auth).  EVERY
        executor of user-provided sub-scripts (RunScript,
        IteratorCommand, foreachBatch batchScript) must construct its
        engine here — a bare Engine(spark) silently runs the sub-script
        outside the auth policy (review finding, round 4)."""
        eng = cls(spark)
        if parent_context is not None:
            eng.context.owner = parent_context.owner
            eng.context.home = parent_context.home  # keep the per-owner
            # path prefix: a child without it would write relative paths
            # OUTSIDE the multi-tenant sandbox (review finding, round 4)
            eng.context.env.update(parent_context.env)
            eng.context.connect_meta.update(parent_context.connect_meta)
            eng.context.extra["table_auth"] = \
                parent_context.extra.get("table_auth")
            # load/render hooks ARE policy (row filters / column masks):
            # a child without them bypasses data masking exactly like a
            # missing table_auth bypassed auth
            eng.context.load_hooks = list(parent_context.load_hooks)
            eng.context.render_hooks = list(parent_context.render_hooks)
            # share the checkpoint ledger — files created by sub-scripts
            # must be deleted by the PARENT's end-of-session reaper, not
            # recorded in a throwaway child list
            eng.context.checkpoint_files = parent_context.checkpoint_files
        return eng

    def validate(self, script: str) -> list[dict]:
        """Pass C grammar validate (reference
        SelectGrammarAdaptor.scala:12-28 / GrammarProcessListener): dry-
        parse every statement — select/insert SQL through Spark's OWN
        sqlParser.parsePlan — WITHOUT executing anything, so a syntax
        error in statement N surfaces before statement 1 runs.
        Returns [] when the script is clean, else one dict per bad
        statement.  Statements still containing unresolved ${vars}
        (runtime-substituted) are skipped, like the reference's
        runtime-mode templating."""
        errors: list[dict] = []
        env = dict(self.context.env)
        jparser = self.spark._jsparkSession.sessionState().sqlParser()
        for i, raw in enumerate(P.split_statements(script)):
            merged = P.template_merge(raw, env)
            if "${" in merged:
                continue
            kind = P.statement_kind(merged)
            if kind == "command":
                name = merged.strip().split()[0].lstrip("!")
                if name not in MACROS and name not in (
                        "if", "elif", "else", "then", "fi"):
                    errors.append({"statement": i, "kind": kind,
                                   "error": f"unknown command !{name}",
                                   "text": raw.strip()[:200]})
                continue
            try:
                stmt = P.parse_statement(merged)
            except Exception as e:
                # ANY parse failure is a finding, not a validator crash —
                # short statements raise IndexError in the token walkers
                errors.append({"statement": i, "kind": kind,
                               "error": f"{type(e).__name__}: {e}",
                               "text": raw.strip()[:200]})
                continue
            if isinstance(stmt, P.SetStmt):
                val = stmt.value if isinstance(stmt.value, str) else ""
                # real `set` semantics overwrite; only type=defaultParam
                # keeps an earlier assignment
                if stmt.options.get("type", "") == "defaultParam":
                    env.setdefault(stmt.key, val)
                else:
                    env[stmt.key] = val
                continue
            sql = stmt.sql if isinstance(stmt, (P.SelectStmt,
                                                P.RawSqlStmt)) else None
            if sql:
                try:
                    jparser.parsePlan(sql)
                except Exception as e:
                    msg = str(e).split("\n")[0]
                    errors.append({"statement": i, "kind": kind,
                                   "error": msg,
                                   "text": raw.strip()[:200]})
        return errors

    def close(self) -> None:
        """Session teardown: unpersist every remaining cache and delete
        reliable-checkpoint files written by eager_materialize.  Spark
        only auto-deletes checkpoint files when
        ``spark.cleaner.referenceTracking.cleanCheckpoints`` was true at
        session BUILD time (ContextCleaner reads the conf once), so a
        long-lived REST session calls this when the engine is retired."""
        ctx = self.context
        for key in list(ctx.cached_tables):
            val = ctx.cached_tables.pop(key)
            df = val[0] if isinstance(val, tuple) else val
            try:
                df.unpersist()
            except Exception:
                pass
        sc = ctx.spark.sparkContext
        for path in ctx.checkpoint_files:
            try:
                jvm = sc._jvm
                hpath = jvm.org.apache.hadoop.fs.Path(path)
                fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
                fs.delete(hpath, True)
            except Exception:
                pass
        ctx.checkpoint_files.clear()

    # ------------------------------------------------------------------
    def _expand_includes(self, stmts: list[str], depth: int = 0,
                         best_effort: bool = False) -> list[str]:
        """Pass A: textual include splice to fixpoint, ≤10 nesting
        (ScriptSQLExec.scala:95-109).  ``best_effort`` keeps unresolvable
        includes in place instead of failing — the auth pre-pass uses it
        because set-then-include scripts define the variable at RUNTIME
        (those includes are auth-checked at splice time instead)."""
        if depth > 10:
            raise RuntimeError("include nesting exceeds 10 levels")
        out: list[str] = []
        changed = False
        for raw in stmts:
            if P.statement_kind(raw) == "include":
                try:
                    stmt = P.parse_statement(
                        P.template_merge(raw, self.context.env))
                    text = self._fetch_include(stmt)
                except Exception:
                    if best_effort:
                        out.append(raw)
                        continue
                    raise
                out.extend(P.split_statements(text))
                changed = True
            else:
                out.append(raw)
        return (self._expand_includes(out, depth + 1, best_effort)
                if changed else out)

    def _fetch_include(self, stmt: P.IncludeStmt) -> str:
        """Include sources (reference IncludeAdaptor.scala:74-79:
        hdfs/http/store/plugin/lib/local).  Here: local file or a script
        stored in an env variable (``include script.`varname```)."""
        fmt = stmt.format
        if fmt in ("local", "hdfs", "file", "project", "src"):
            path = self.context.resource_real_path(stmt.path)
            with open(path, encoding="utf-8") as f:
                return f.read()
        if fmt == "script":
            if stmt.path not in self.context.env:
                raise ValueError(
                    f"include script.`{stmt.path}`: no such variable "
                    f"(set {stmt.path} = '''...''' first)")
            return self.context.env[stmt.path]
        # reference IncludeAdaptor.scala:74-84 non-local sources —
        # documented drops with the reason and the local alternative
        if fmt == "http":
            raise ValueError(
                "include http.`...` is a documented drop: this "
                "deployment has no network egress (COVERAGE.md).  "
                "Fetch the script out of band and use include "
                f"local.`path` or include script.`var` instead "
                f"(requested: {stmt.path})")
        if fmt in ("store", "plugin", "lib"):
            raise ValueError(
                f"include {fmt}.`...` is a documented drop: "
                f"'{fmt}' resolves scripts from the MLSQL console's "
                "store / plugin registry (reference IncludeAdaptor."
                "scala:76-78), which has no counterpart in this "
                "standalone engine.  Vendor the script into the "
                "project and use include local.`path`, or put it in a "
                "variable and use include script.`var` "
                f"(requested: {stmt.path})")
        raise ValueError(f"unsupported include source: {fmt}")

    # ------------------------------------------------------------------
    def _execute_statement(self, raw: str) -> None:
        ctx = self.context
        kind = P.statement_kind(raw)

        # branch-control commands always execute (they flip branch state)
        if kind == "command":
            merged = P.template_merge(raw, ctx.env)
            cmd = P.parse_statement(merged)
            assert isinstance(cmd, P.CommandStmt)
            if cmd.command in ("if", "elif", "else", "fi", "then"):
                self._branch_command(cmd)
                return
            if not ctx.branch_active():
                return
            if cmd.command not in MACROS:
                from streamingpro_spark.macros import DOCUMENTED_DROP_MACROS
                if cmd.command in DOCUMENTED_DROP_MACROS:
                    raise ValueError(DOCUMENTED_DROP_MACROS[cmd.command])
                raise ValueError(f"unknown command !{cmd.command}")
            raw = expand_macro(cmd)
            kind = P.statement_kind(raw)

        if not ctx.branch_active():
            return

        merged = P.template_merge(raw, ctx.env)
        stmt = P.parse_statement(merged)

        if isinstance(stmt, P.IncludeStmt):
            # lazy include: splice + execute in statement order (≤10 deep),
            # so variables set earlier in the script are visible
            self._include_depth = getattr(self, "_include_depth", 0) + 1
            try:
                if self._include_depth > 10:
                    raise RuntimeError("include nesting exceeds 10 levels")
                text = self._fetch_include(stmt)
                table_auth = ctx.extra.get("table_auth")
                if table_auth is not None:
                    # runtime-resolved includes missed the pre-pass —
                    # enforce the policy on the spliced text now
                    from streamingpro_spark.analyzer import analyze
                    tables = analyze(text, self.spark,
                                     env=ctx.env).as_dict()
                    if table_auth(ctx.owner, tables) is False:
                        raise PermissionError(
                            f"table auth rejected included script for "
                            f"owner {ctx.owner!r}")
                for sub in P.split_statements(text):
                    self._execute_statement(sub)
            finally:
                self._include_depth -= 1
        elif isinstance(stmt, P.SetStmt):
            self._do_set(stmt, raw)
        elif isinstance(stmt, P.SelectStmt):
            df = ctx.spark.sql(stmt.sql)
            ctx.register(df, stmt.table)
        elif isinstance(stmt, P.LoadStmt):
            from streamingpro_spark.sources.registry import load_source
            df = load_source(ctx, stmt.format, stmt.path, stmt.options)
            ctx.register(df, stmt.table)
        elif isinstance(stmt, P.SaveStmt):
            from streamingpro_spark.sources.registry import save_sink
            save_sink(ctx, stmt)
        elif isinstance(stmt, P.ConnectStmt):
            ctx.connect_meta[(stmt.format, stmt.alias)] = dict(stmt.options)
        elif isinstance(stmt, P.TrainStmt):
            self._do_train(stmt)
        elif isinstance(stmt, P.RegisterStmt):
            self._do_register(stmt)
        elif isinstance(stmt, P.RawSqlStmt):
            # insert/create/drop/refresh passthrough (InsertAdaptor etc.).
            # Row-returning forms (explain/describe/show) become the
            # script result so `explain select ...;` is usable from REST.
            df = ctx.spark.sql(stmt.sql)
            head = stmt.sql.lstrip().split(None, 1)[0].lower()
            if head in ("explain", "describe", "desc", "show"):
                import uuid as _uuid
                view = f"__raw_sql_result_{_uuid.uuid4().hex[:12]}__"
                df.createOrReplaceTempView(view)
                ctx.set_last_table(view)
        else:
            raise ValueError(f"unhandled statement: {raw[:80]}")

    # ------------------------------------------------------------------
    def _branch_command(self, cmd: P.CommandStmt) -> None:
        """!if/!elif/!else/!fi interpreter (reference buffers statements via
        BranchContext — ScriptSQLExec.scala:326-369; we interpret directly)."""
        ctx = self.context
        name = cmd.command
        if name == "then":
            return
        if name == "if":
            parent = ctx.branch_active()
            cond = parent and self._eval_cond(cmd.args)
            ctx.branch_stack.append(BranchFrame(taken=cond, active=cond,
                                                parent_active=parent))
        elif name == "elif":
            f = self._top_frame("!elif")
            cond = (not f.taken) and f.parent_active and self._eval_cond(cmd.args)
            f.active = cond
            f.taken = f.taken or cond
        elif name == "else":
            f = self._top_frame("!else")
            f.active = (not f.taken) and f.parent_active
            f.taken = True
        elif name == "fi":
            self._top_frame("!fi")
            ctx.branch_stack.pop()

    def _top_frame(self, what: str) -> BranchFrame:
        if not self.context.branch_stack:
            raise ValueError(f"{what} without matching !if")
        return self.context.branch_stack[-1]

    def _eval_cond(self, args: list[str]) -> bool:
        cond = " ".join(args)
        return evaluate_condition(cond, self.context)

    # ------------------------------------------------------------------
    def _do_set(self, stmt: P.SetStmt, raw: str) -> None:
        """SetAdaptor semantics (reference SetAdaptor.scala:34-199):
        type = text|conf|sql|shell|defaultParam."""
        ctx = self.context
        typ = stmt.options.get("type", "text")
        key, value = stmt.key, stmt.value
        if typ == "defaultParam":
            if key not in ctx.env:
                ctx.env[key] = value
        elif typ == "conf":
            ctx.spark.conf.set(key, value)
            ctx.env[key] = value
        elif typ == "sql":
            row = ctx.spark.sql(value).collect()
            ctx.env[key] = "" if not row else str(row[0][0])
        elif typ == "shell":
            import subprocess
            res = subprocess.run(value, shell=True, capture_output=True, text=True)
            ctx.env[key] = res.stdout.strip()
        else:
            ctx.env[key] = value
        if key == "streamName":
            ctx.stream_name = ctx.env.get(key)

    # ------------------------------------------------------------------
    def _do_train(self, stmt: P.TrainStmt) -> None:
        """train/run/predict dispatch (reference TrainAdaptor.scala:69-122)."""
        from streamingpro_spark.operators.registry import find_algorithm
        ctx = self.context
        df = ctx.spark.table(stmt.table)
        alg = find_algorithm(stmt.algorithm)
        path = (stmt.path if getattr(alg, "skip_path_prefix", False)
                else ctx.resource_real_path(stmt.path))
        options = {**stmt.options, "__table__": stmt.table}
        if stmt.verb == "predict":
            out = alg.batch_predict(df, path, options)
        elif stmt.verb == "train":
            out = alg.train(df, path, options, ctx)
        else:  # run — by convention transforms, same code path
            out = alg.train(df, path, options, ctx)
        out_name = stmt.out_table or _default_out_name(stmt.algorithm,
                                                       stmt.table)
        if out is not None:
            ctx.register(out, out_name)

    def _do_register(self, stmt: P.RegisterStmt) -> None:
        """register Alg.`path` as fn (reference RegisterAdaptor.scala:30-83):
        ScriptUDF compiles source into a UDF; model algs register a
        predict UDF."""
        from streamingpro_spark.operators.registry import find_algorithm
        ctx = self.context
        alg = find_algorithm(stmt.algorithm)
        path = (stmt.path if getattr(alg, "skip_path_prefix", False)
                else ctx.resource_real_path(stmt.path))
        model = alg.load(ctx.spark, path, stmt.options, ctx)
        opts = {**stmt.options, "__path__": path}
        fn = alg.predict(ctx.spark, model, stmt.function, opts)
        ctx.udfs[stmt.function] = fn

    # ------------------------------------------------------------------
    def analyze(self, script: str) -> list[dict]:
        """Pre-execution auth/lineage analysis: which tables each statement
        reads/writes (reference pass D, ScriptSQLExec.scala:122-142 +
        Protocal.scala:67-111)."""
        out: list[dict] = []
        for raw in self._expand_includes(P.split_statements(script),
                                         best_effort=True):
            kind = P.statement_kind(raw)
            merged = P.template_merge(raw, self.context.env)
            try:
                stmt = P.parse_statement(merged)
            except Exception:
                # analysis must not crash on what execute() tolerates —
                # truncated statements raise IndexError in token walkers
                continue
            if isinstance(stmt, P.LoadStmt):
                out.append({"op": "load", "format": stmt.format,
                            "path": stmt.path, "table": stmt.table})
            elif isinstance(stmt, P.SelectStmt):
                out.append({"op": "select", "table": stmt.table, "sql": stmt.sql})
            elif isinstance(stmt, P.SaveStmt):
                out.append({"op": "save", "format": stmt.format,
                            "path": stmt.path, "table": stmt.table})
            elif isinstance(stmt, P.TrainStmt):
                out.append({"op": stmt.verb, "algorithm": stmt.algorithm,
                            "table": stmt.table})
        return out
