package graft

import org.apache.spark.sql.functions._

/** Pins the 23-platform signature matrix (FundEtl.platformMatrix — the
  * reference's elif chain, purchase_confirm_extractor.py:1480-1568) to
  * the INTENDED routing of every round-17 corpus file, so a rule-data
  * edit that silently re-routes a platform fails here even though the
  * DuckDB oracle (which renders from the same matrix) would move in
  * lockstep. Also pins the biz-type exclusion algebra (:1440-1461) and
  * the per-platform label-driven extraction.
  */
class PlatformMatrixSpec extends SparkTestBase {

  private lazy val rows = operators.FundEtl.etlIngestFiles(spark, sfDir)
    .collect().map(r => r.getAs[String]("file_name") -> r).toMap

  test("all 23 platforms classify at least one corpus file") {
    val seen = rows.values.map(_.getAs[String]("platform")).toSet
    val want = operators.FundEtl.platformMatrix.map(_.platform).toSet
    assert(want.size == 23, s"matrix must carry 23 platforms, has ${want.size}")
    val missing = want -- seen
    assert(missing.isEmpty, s"platforms with no classified corpus file: $missing")
  }

  test("every new-platform file routes to its intended platform") {
    val expect = Map(
      // content signatures at the reference's line scopes
      "lide_shengou_20240115.txt" -> "lide", // 利得基金 in lines[3:]
      "jiaohang_shengouqueren_20240115.txt" -> "jiaohang", // 交通银行 in lines[:2]
      "kenteri_shengouqueren_20240115.txt" -> "jingdong", // 肯特瑞 ∧ 申购确认 in lines[:2]
      "wangjin_shengou_20240115.txt" -> "wangjin", // filename
      "stmt_wj_shengou_20240116.txt" -> "wangjin", // 网金基金 in lines[5:]
      "stmt_pa_shengou_20240115.txt" -> "pingan", // 行E通 in lines[5:]
      "jianhang_shengouqueren_20240115.txt" -> "jianhang", // filename
      "stmt_jh_shengouqueren_20240116.txt" -> "jianhang", // spaced 客 户 名 称
      "tengyuan_shengou_20240115.txt" -> "tengyuan", // 腾元基金 in lines[5:]
      "ronglianchuang_shengou_20240115.txt" -> "ronglianchuang", // 融联创[:2] ∧ 申购[:5]
      "minsheng_shengou_20240115.txt" -> "minsheng", // 同业e+ in lines[2:]
      "hexun_shengouqueren_20240115.txt" -> "hexun", // filename
      "stmt_hx_shengouqueren_20240116.txt" -> "hexun", // 和讯信息科技有限公司 in lines[3:]
      "zhaoyingtong_shengou_20240115.txt" -> "zhaoyingtong",
      "xingzheng_shengouqueren_20240115.txt" -> "xingzheng",
      "youchu_shengouqueren_20240115.txt" -> "youchu", // FILENAME ONLY
      "jiyu_shengou_20240115.txt" -> "jiyu",
      "ningbo_shengouqueren_20240115.txt" -> "ningbo", // 宁波 ∧ ¬北极星 (filename)
      "stmt_nb_shengou_20240116.txt" -> "ningbo", // 宁波银行 in lines[15:] ∧ ¬联泰[:5]
      "guoxinjiali_shengou_20240115.txt" -> "guoxinjiali",
      "panying_shengou_20240115.txt" -> "panying",
      "zhengdatong_shengouqueren_20240115.txt" -> "zhengdatong", // 证达通 ∧ 申购确认单
      "stmt_lt_shengou_20240115.txt" -> "liantai", // 联泰[:2] ∧ 申购[:20]
      "stmt_tt_shengou_20240115.txt" -> "tiantian", // 天天基金 in lines[3:] ∧ ¬转换
      "jiaoetong_shengouqueren_20240116.txt" -> "jiaohang", // 交e通 filename
      "jiangsuyinhang_shuhui_20240116.txt" -> "ronglianchuang") // 江苏银行 filename
    expect.foreach { case (f, p) =>
      assert(rows(f).getAs[String]("platform") == p,
        s"$f routed to ${rows(f).getAs[String]("platform")}, want $p")
    }
  }

  test("negative conjunctions: ¬北极星 blocks ningbo, ¬转换 blocks haomai/tiantian") {
    // filename carries BOTH 宁波(ningbo) and 北极星(beijixing): the
    // reference's ¬北极星 literal must block ningbo and the 北极星
    // clause must route it to liantai (purchase_confirm_extractor.py:1499 vs :1490)
    assert(rows("ningbobeijixing_shengou_20240116.txt").getAs[String]("platform") == "liantai")
    // signature-positioned 天天基金/好买基金 content WITH 转换 anywhere
    // must fall through to UNKNOWN (:1480-1481 `not any('转换' ...)`)
    assert(rows("stmt_tt_zhuanhuan_20240116.txt").getAs[String]("platform") == "UNKNOWN")
    assert(rows("stmt_hm_zhuanhuan_20240116.txt").getAs[String]("platform") == "UNKNOWN")
    // and the clean twins DO classify, so the negation is load-bearing
    assert(rows("stmt_tt_shengou_20240115.txt").getAs[String]("platform") == "tiantian")
    assert(rows("haomai_shengou_20240115.txt").getAs[String]("platform") == "haomai")
  }

  test("biz-type exclusion algebra routes the excluded classes and the 赎回 exception") {
    val biz = (f: String) => rows(f).getAs[String]("biz_type")
    assert(biz("haomai_qiangxingtiao_20240116.txt") == "EXCL_FORCE_ADJ") // 强行调
    assert(biz("tiantian_tiaozeng_20240116.txt") == "EXCL_ADJ_UP") // 调增
    assert(biz("panying_chaojizhuanhuan_20240116.txt") == "EXCL_CONVERT") // 超级转换
    assert(biz("youchu_fenhongfangshi_20240116.txt") == "EXCL_DIV_METHOD") // 分红方式 before 分红
    assert(biz("stmt_tt_zhuanhuan_20240116.txt") == "EXCL_CONVERT") // 转换
    // 赎回 kept as purchase CONFIRM only for 江苏银行/融联创 (:1459-1461)
    assert(biz("jiangsuyinhang_shuhui_20240116.txt") == "CONF")
    assert(biz("ningbo_shuhui_20240116.txt") == "RED")
    // the ordered prefix rules still hold
    assert(biz("haomai_shengouqueren_20240115.txt") == "CONF")
    assert(biz("haomai_shengou_20240115.txt") == "SUB")
  }

  test("per-platform field labels drive extraction (labels differ from the v1 hard-coded set)") {
    // generator formula: amount_c = 90_00_00 + j*23_45_67 cents over
    // NEW_FILES order (tools/gen_statements.py), shares = 3/4, fee = 12bp
    def money(j: Int, num: Long, den: Long): Double =
      (900000L + j * 234567L) * num / den / 100.0
    // lide (j=0): 确认金额（元）/确认份额（份）/交易费用（元）
    val lide = rows("lide_shengou_20240115.txt")
    assert(lide.getAs[Double]("amount") == money(0, 1, 1))
    assert(lide.getAs[Double]("shares") == money(0, 3, 4))
    assert(lide.getAs[String]("product_name") != null) // 投资者姓名/名称
    // wangjin (j=3): 申购金额小写/确认净额/费开户
    val wj = rows("wangjin_shengou_20240115.txt")
    assert(wj.getAs[Double]("amount") == money(3, 1, 1))
    assert(wj.getAs[Double]("shares") == money(3, 3, 4))
    // jianhang (j=5): SPACED labels 确 认 金 额 / 基 金 代 码
    val jh = rows("jianhang_shengouqueren_20240115.txt")
    assert(jh.getAs[Double]("amount") == money(5, 1, 1))
    assert(jh.getAs[String]("fund_code") != null)
    // ningbo (j=14): fee label 申购费用（元） — floor(amount_c*12/10000)/100
    val nb = rows("ningbo_shengouqueren_20240115.txt")
    assert(nb.getAs[Double]("fee") == (900000L + 14 * 234567L) * 12 / 10000 / 100.0)
    // UNKNOWN files fall back to the generic default labels: the
    // haomai-shaped reject still extracts (默认 确认金额), the
    // tiantian-shaped one does not (成交金额 ≠ default)
    assert(rows("stmt_hm_zhuanhuan_20240116.txt").getAs[java.lang.Double]("amount") != null)
    assert(rows("stmt_tt_zhuanhuan_20240116.txt").getAs[java.lang.Double]("amount") == null)
  }

  test("defect surfacing is unchanged: UNKNOWN set is exactly the three reject files") {
    val unknown = rows.collect {
      case (f, r) if r.getAs[String]("platform") == "UNKNOWN" => f
    }.toSet
    assert(unknown == Set("weizhi_shengou_20240116.txt",
      "stmt_tt_zhuanhuan_20240116.txt", "stmt_hm_zhuanhuan_20240116.txt"))
    assert(rows.values.forall(r =>
      r.getAs[String]("platform") == "UNKNOWN" || r.getAs[Boolean]("valid") ||
        r.getAs[String]("file_name") == "haomai_shuhui_nocode_20240116.txt"))
  }

  test("etl_multi_record explodes marker blocks and applies the record-validity rule") {
    val recs = operators.FundEtl.etlMultiRecord(spark, sfDir).collect()
      .groupBy(r => r.getAs[String]("file_name"))
    // liantai multi: 3 交易信息 blocks; block 2 has no 基金代码 → the
    // reference's fund_code-and-(amount-or-shares) rule drops it
    val lt = recs("stmt_lt2_shengou_20240115.txt")
      .map(r => (r.getAs[Long]("rec_no"), r.getAs[String]("fund_code"),
        r.getAs[Double]("amount"))).sortBy(_._1)
    assert(lt.toSeq == Seq((1L, "000222", 20000.0), (3L, "000333", 40000.0)),
      s"liantai multi records wrong: ${lt.toSeq}")
    // yingmi multi: 2 交易序号 blocks, both valid
    val ym = recs("yingmi2_shengou_20240116.txt")
      .map(r => (r.getAs[Long]("rec_no"), r.getAs[String]("fund_code"),
        r.getAs[Double]("amount"), r.getAs[Double]("fee"))).sortBy(_._1)
    assert(ym.toSeq == Seq((1L, "000444", 10000.0, 15.0),
      (2L, "000555", 12500.0, 18.75)), s"yingmi multi records wrong: ${ym.toSeq}")
    // single-marker liantai files yield exactly one record each
    assert(recs("stmt_lt_shengou_20240115.txt").length == 1)
    assert(recs("ningbobeijixing_shengou_20240116.txt").length == 1)
    // product name comes from the file header via the platform's label
    assert(recs("stmt_lt2_shengou_20240115.txt")
      .forall(_.getAs[String]("product_name") != null))
    // single-record platforms contribute nothing
    assert(recs.keys.forall(f => f.contains("lt") || f.contains("yingmi")
      || f.contains("beijixing")),
      s"unexpected multi-record files: ${recs.keys}")
  }

  test("each walk's rendered rules and routing CASE equal what Spark compiles") {
    import operators.FundEtl._
    import spark.implicits._
    for (w <- Seq(confirmWalk, redeemWalk, divWalk, applyWalk, convWalk)) {
      val name = w.dir.split('/').last
      // the oracle's VALUES rows, read back by Spark, are the relation
      // classify joins
      val cols = ("platform" +: w.labels.map(_._1)).mkString(", ")
      val rendered = spark.sql(s"SELECT * FROM VALUES ${rulesValuesSql(w)} AS t($cols)")
      val joined = labelFrame(spark, w)
      assert(rendered.schema.map(f => (f.name, f.dataType)) ==
        joined.schema.map(f => (f.name, f.dataType)), s"$name: schema")
      assert(rendered.collect().toSeq == joined.collect().toSeq, s"$name: rows")
      // the oracle's routing CASE, evaluated by Spark, is the compiled
      // chain — on the corpus names plus one name per keep-only-if row
      // that only its last extra keyword keeps
      if (w.route.nonEmpty) {
        val keepIf = w.route.collect {
          case (kw, any, cls) if any.nonEmpty => (s"${any.last}_${kw}_synthetic.txt", cls)
        }
        val names = loadStatements(spark, w.dir).select(col("file_name"))
          .union(keepIf.map(_._1).toDF("file_name"))
        val routed = names.select(col("file_name"), routeCol(w), expr(routeSql(w)))
          .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
        assert(routed.size > keepIf.size, s"$name: empty corpus")
        routed.foreach { case (f, (compiled, sql)) =>
          assert(compiled == sql, s"$f: compiled $compiled, rendered $sql")
        }
        keepIf.foreach { case (f, cls) => assert(routed(f)._1 == cls, s"$f must route $cls") }
      }
    }
  }

  test("classification is one map-only when-chain + broadcast label join: no window shuffle") {
    val plan = operators.FundEtl.etlIngestFiles(spark, sfDir)
      .queryExecution.executedPlan.toString
    // rules-as-data COMPILED into the plan: the old rules-join shape
    // cost a row_number window (a full shuffle on file_name); the
    // matrix chain must plan zero exchanges before the presentation sort
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).toList
    assert(exchanges.isEmpty,
      s"ingest classification should be shuffle-free, found: $exchanges\n$plan")
    assert(!plan.contains("Window"), s"no priority window expected:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"label relation must broadcast equi-join:\n$plan")
  }
}
