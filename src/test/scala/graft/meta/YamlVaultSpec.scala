package graft.meta

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.expr.HashConfig
import graft.runtime.{Runner, TxLogTable}

/** yaml_metadata documents → Runner DAG: dependency extraction, topological
  * execution, selection-driven source pruning on a YAML-defined hub. */
class YamlVaultSpec extends SparkSpec {
  import spark.implicits._
  implicit val hc: HashConfig = HashConfig()

  private def store() = new TxLogTable(spark, Files.createTempDirectory("yvault").toString)

  test("dependencies are extracted from the yaml documents") {
    assert(YamlVault.dependencies("stage",
      "source_model: customer\nldts: '!x'\nrsrc: '!y'") === (Seq("customer"), Nil))
    assert(YamlVault.dependencies("stage",
      """source_model:
        |  crm: customer""".stripMargin)._1 === Seq("crm.customer"))
    assert(YamlVault.dependencies("hub",
      """hashkey: hk
        |business_keys: [k]
        |source_models:
        |  stage_a:
        |    rsrc_static: 'A%'
        |  stage_b: {}""".stripMargin) === (Nil, Seq("stage_a", "stage_b")))
    assert(YamlVault.dependencies("sat_v1",
      "sat_v0: customer_s0\nhashkey: hk\nhashdiff: hd") === (Seq("customer_s0"), Nil))
    assert(YamlVault.dependencies("pit",
      """tracked_entity: hub_c
        |sat_names: [sat_a, sat_b]
        |snapshot_relation: snap
        |hashkey: hk
        |dimension_key: dk""".stripMargin)._1.toSet ===
      Set("hub_c", "snap", "sat_a", "sat_b"))
    intercept[IllegalArgumentException](YamlVault.dependencies("nope", "a: b"))
  }

  private val stageYaml =
    """ldts: "timestampadd(DAY, 0, timestamp'2024-01-01 00:00:00')"
      |rsrc: '!SRC/A'
      |source_model: src_customer
      |enable_ghost_records: false
      |hashed_columns:
      |  hk_customer_h:
      |    - c_custkey
      |  hd_customer_s:
      |    is_hashdiff: true
      |    columns: [c_name]
      |""".stripMargin

  test("a YAML-defined stage→hub→sat_v0→sat_v1 chain runs in dependency order") {
    val st = store()
    val defs = Seq(
      // declared intentionally OUT of order — the runner must sort them
      YamlVault.ModelDef("customer_s", "sat_v1",
        "sat_v0: customer_s0\nhashkey: hk_customer_h\nhashdiff: hd_customer_s\nadd_is_current_flag: true"),
      YamlVault.ModelDef("customer_s0", "sat_v0",
        """source_model: stage_customer
          |parent_hashkey: hk_customer_h
          |src_hashdiff: hd_customer_s
          |src_payload: [c_name]""".stripMargin),
      YamlVault.ModelDef("hub_customer", "hub",
        """hashkey: hk_customer_h
          |business_keys: [c_custkey]
          |source_models: stage_customer""".stripMargin),
      YamlVault.ModelDef("stage_customer", "stage", stageYaml))
    val models = YamlVault.models(defs)
    val src = Seq((1L, "alice"), (2L, "bob")).toDF("c_custkey", "c_name")
    val r = new Runner(spark, st, models, {
      case "src_customer" => src
      case other          => throw new IllegalArgumentException(other)
    })
    assert(r.topoOrder.indexOf("stage_customer") < r.topoOrder.indexOf("hub_customer"))
    assert(r.topoOrder.indexOf("customer_s0") < r.topoOrder.indexOf("customer_s"))
    val res = r.run()
    assert(res.actions("hub_customer") === "create")
    assert(res.actions("customer_s") === "ephemeral", "sat_v1 defaults to a view")
    assert(st.read("hub_customer").count() === 2)
    assert(st.read("customer_s0").select("c_name").as[String].collect().toSet ===
      Set("alice", "bob"))
  }

  test("selection prunes a YAML hub's unselected source models") {
    val st = store()
    def stage(name: String, rsrc: String) = YamlVault.ModelDef(name, "stage",
      s"""ldts: load_ts
         |rsrc: '!$rsrc'
         |source_model: src_$name
         |enable_ghost_records: false
         |hashed_columns:
         |  hk_party_h:
         |    - pkey
         |""".stripMargin)
    val defs = Seq(
      stage("stage_a", "SRC/A"), stage("stage_b", "SRC/B"),
      YamlVault.ModelDef("hub_party", "hub",
        """hashkey: hk_party_h
          |business_keys: [pkey]
          |source_models:
          |  stage_a: {}
          |  stage_b: {}""".stripMargin))
    def src(k: Long, d: String) =
      Seq((k, java.sql.Timestamp.valueOf(d))).toDF("pkey", "load_ts")
    def runner(a: DataFrame, b: DataFrame) =
      new Runner(spark, st, YamlVault.models(defs), {
        case "src_stage_a" => a
        case "src_stage_b" => b
        case other         => throw new IllegalArgumentException(other)
      })
    // first load: both sources (target missing → pruning falls back to all)
    runner(src(1L, "2024-01-01 00:00:00"), src(2L, "2024-01-01 00:00:00")).run("stage_a+")
    assert(st.read("hub_party").select("pkey").as[Long].collect().toSet === Set(1L, 2L))
    // incremental selected load: stage_b is not selected → its key 9 must not load
    val res = runner(src(3L, "2024-01-02 00:00:00"), src(9L, "2024-01-02 00:00:00"))
      .run("stage_a+")
    assert(res.steps.find(_.model == "hub_party").get.skippedSources === Seq("stage_b"))
    assert(st.read("hub_party").select("pkey").as[Long].collect().toSet === Set(1L, 2L, 3L))
  }
}
