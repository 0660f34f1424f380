package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** §2.B — reference-parity ETL operators.
  *
  * Re-expresses the Fund-Data-ETL-Pipeline's per-statement pipeline
  * (classify → regex-extract → normalize → enrich → validate →
  * standardize-union → dedup; see
  * /root/reference/extractors/purchase_confirm_extractor.py:1417-1639
  * and SURVEY.md §1) as declarative Spark plans over the harness
  * tables. Every step the reference does row-at-a-time in Python
  * (signature classification `:1480-1501`, regex fields `:35-200`,
  * to_numeric().round(2) `:1586-1588`, product_codes.json lookup,
  * pd.concat standardization) is a codegen'd expression here — no
  * UDFs, so the 100 TB path stays inside WholeStageCodegen.
  *
  * The five statement walks — purchase confirm, redemption, dividend,
  * apply and conversion — are one [[Walk]] value each ([[confirmWalk]],
  * [[redeemWalk]], [[divWalk]], [[applyWalk]], [[convWalk]]): matrix,
  * label columns, filename routing, corpus dir and dict. One compiler
  * ([[classify]], [[routeCol]]) and one oracle renderer ([[walkCtes]],
  * [[routeSql]]) read them, so both engines classify from the same rows.
  */
object FundEtl {
  private type Q = (SparkSession, String) => DataFrame

  /** 2dp money quantization for row-level derived products.
    *
    * `round(x, 2)` is NOT cross-engine stable on doubles: Spark rounds
    * the shortest decimal representation (BigDecimal.valueOf) while
    * DuckDB rounds the raw binary value, so a product like 320.835
    * (binary ≈ 320.83499…) splits the engines. floor(x*100 + 0.5)/100
    * is pure IEEE arithmetic — bit-identical everywhere. Oracles use
    * the same formula.
    */
  private def money2(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(c * 100 + 0.5) / lit(100.0)

  /** One literal of a platform signature. `src`='f' tests the file
    * NAME, 'c' tests a LINE RANGE of the content — Python-style
    * `lines[lo:hi]` (0-based, `hi` = -1 → end of file), mirroring the
    * reference's `lines[:2]` / `lines[5:]` scoping
    * (`purchase_confirm_extractor.py:1480-1501`). `neg` inverts
    * (e.g. 宁波银行-but-not-联泰). A platform rule is a DNF over these:
    * OR across clauses, AND (with negation) within a clause — exactly
    * the shape of the reference's `(A in file) or (B in lines[3:] and
    * not C in lines)` conjunctions.
    */
  private[graft] final case class SigLit(src: Char, lo: Int, hi: Int,
      pattern: String, neg: Boolean = false)

  private def F(p: String): SigLit = SigLit('f', 0, -1, p)
  private def C(p: String): SigLit = SigLit('c', 0, -1, p)
  private def C(lo: Int, hi: Int, p: String): SigLit = SigLit('c', lo, hi, p)
  private def not(l: SigLit): SigLit = l.copy(neg = true)

  /** One row of a walk's platform matrix: the platform and its DNF
    * signature. Each walk's rule row adds its own label fields. */
  private[graft] trait SigRule {
    def platform: String
    def clauses: Seq[Seq[SigLit]]
  }

  /** One platform of the reference's 23-platform matrix: the DNF
    * signature plus the field LABELS that drive regex extraction for
    * statements of that platform — the reference encodes both as
    * ~1400 lines of per-platform code
    * (`purchase_confirm_extractor.py:34-1365` extractors,
    * `:1480-1501` signatures); here each platform is one DATA row, so
    * adding a platform is adding a row, not code. Priority = position
    * in [[platformMatrix]] (the reference's first-match-wins elif
    * chain order, `:1502-1568`).
    */
  private[graft] final case class PlatformRule(platform: String,
      clauses: Seq[Seq[SigLit]], nameLabel: String, codeLabel: String,
      amountLabel: String, sharesLabel: String, feeLabel: String,
      dateLabel: String,
      // record-start marker for MULTI-RECORD statements ("" = one
      // record per file). The reference's yingmi/liantai extractors
      // return LISTS — one tuple per 交易序号 / 交易信息 block
      // (purchase_confirm_extractor.py:173-271 / :660-726); the
      // marker drives etl_multi_record's per-block explode.
      recMarker: String = "") extends SigRule

  /** The full 23-platform signature + label matrix, one row per
    * reference platform in the reference's elif order. Filename
    * literals use the corpus's ASCII pinyin tokens (the committed
    * corpus keeps filenames ASCII to stay byte-stable across
    * URI-encoding path layers; each token's Chinese original from the
    * reference is noted inline). Content literals are the reference's
    * own Chinese signature tokens with the reference's line scoping.
    * The six v1 platforms additionally carry their v1 template
    * signature as an extra OR-clause (multi-template-version rules are
    * the normal case for rules-as-data) and keep their v1 labels so
    * the committed v1 corpus files stay classified; the 17 new
    * platforms carry the reference's per-platform label variance
    * (`purchase_confirm_extractor.py:34-1365`).
    */
  private[graft] val platformMatrix: Seq[PlatformRule] = Seq(
    // :1480 — 好买基金 in lines[:2] and no 转换 anywhere
    PlatformRule("haomai", Seq(Seq(C(0, 2, "好买基金"), not(C("转换")))),
      "产品名称", "基金代码", "确认金额", "确认份额", "手续费", "确认日期"),
    // :1481 — 天天基金 in filename, OR in lines[3:] with no 转换
    PlatformRule("tiantian", Seq(
      Seq(F("tiantian")), // 天天基金
      Seq(C(3, -1, "天天基金"), not(C("转换"))),
      Seq(C(0, 1, "天天基金网结算数据"))), // v1 template
      "产品名称", "基金代码", "成交金额", "确认份额", "费用", "确认日期"),
    // :1482 — 利得基金 in lines[3:]
    PlatformRule("lide", Seq(Seq(C(3, -1, "利得基金"))),
      "投资者姓名/名称", "基金代码", "确认金额（元）", "确认份额（份）",
      "交易费用（元）", "确认日期"),
    // :1483 — 长量基金 in lines[:2]
    PlatformRule("changliang", Seq(Seq(C(0, 2, "长量基金"))),
      "产品名称", "基金代码", "确认金额", "确认份额", "手续费", "确认日期"),
    // :1485 — 交e通 in filename OR 交通银行 in lines[:2]
    PlatformRule("jiaohang", Seq(Seq(F("jiaoetong")), Seq(C(0, 2, "交通银行"))),
      "投资者信息", "产品代码", "确认金额", "确认份额", "认申购手续费", "确认日期"),
    // :1486 — 肯特瑞 AND 申购确认, both in lines[:2] (conjunction)
    PlatformRule("jingdong", Seq(
      Seq(C(0, 2, "肯特瑞"), C(0, 2, "申购确认")),
      Seq(C(0, 1, "京东肯特瑞交易回执"))), // v1 template
      "产品名称", "基金代码", "确认金额", "确认份额", "手续费", "确认日期"),
    // :1487 — 网金 in filename OR 网金基金 in lines[5:]
    PlatformRule("wangjin", Seq(Seq(F("wangjin")), Seq(C(5, -1, "网金基金"))),
      "投资者名称", "基金代码", "申购金额小写", "确认净额", "费开户", "确认日期"),
    // :1488 — 行E通 in lines[5:]
    PlatformRule("pingan", Seq(
      Seq(C(5, -1, "行E通")),
      Seq(C(0, 1, "平安银行代销确认"))), // v1 template
      "产品名称", "基金代码", "发生金额", "确认份额", "费用合计", "确认日期"),
    // :1489 — 建行 in filename OR spaced 客 户 名 称 anywhere
    PlatformRule("jianhang", Seq(Seq(F("jianhang")), Seq(C("客 户 名 称"))),
      "客 户 名 称", "基 金 代 码", "确 认 金 额", "确 认 份 额", "手续费",
      "确认日期"),
    // :1491 — 腾元 in filename OR 腾元基金 in lines[5:]
    PlatformRule("tengyuan", Seq(Seq(F("tengyuan")), Seq(C(5, -1, "腾元基金"))),
      "客户名称", "基金代码", "确认金额", "确认份额", "手续费", "确认日期"),
    // :1492 — (江苏银行 in filename OR 融联创 in lines[:2]) AND 申购 in lines[:5]
    PlatformRule("ronglianchuang", Seq(
      Seq(F("jiangsuyinhang"), C(0, 5, "申购")), // 江苏银行
      Seq(C(0, 2, "融联创"), C(0, 5, "申购"))),
      "来款账号名称", "产品代码", "确认金额", "确认份额", "手续费", "确认日期"),
    // :1493 — 民生同业e+ in filename OR 同业e+ in lines[2:]
    PlatformRule("minsheng", Seq(Seq(F("minshengtongye")), Seq(C(2, -1, "同业e+"))),
      "客户名称", "产品代码", "确认金额（元）", "确认份额（份）", "手续费（元）",
      "确认日期"),
    // :1494 — 和讯 in filename OR 和讯信息科技有限公司 in lines[3:]
    PlatformRule("hexun", Seq(Seq(F("hexun")), Seq(C(3, -1, "和讯信息科技有限公司"))),
      "账户名称", "基金代码", "确认金额", "确认份额", "确认费用", "确认日期"),
    // :1495 — 招赢通 in filename OR lines[:2]
    PlatformRule("zhaoyingtong", Seq(Seq(F("zhaoyingtong")), Seq(C(0, 2, "招赢通"))),
      "投资者名称", "产品代码", "确认金额", "确认份额", "交易费用", "确认日期"),
    // :1496 — 兴证 in filename OR 兴证全球基金 in lines[:2]
    PlatformRule("xingzheng", Seq(Seq(F("xingzheng")), Seq(C(0, 2, "兴证全球基金"))),
      "账 号 名 称", "基 金 代 码", "确 认 金 额", "确 认 份 额", "手 续 费",
      "确认日期"),
    // :1497 — 邮储 in filename ONLY (no content clause in the reference)
    PlatformRule("youchu", Seq(Seq(F("youchu"))),
      "客户名称", "产品代码", "确认金额（元）", "确认份额（份）", "手续费（元）",
      "确认日期"),
    // :1498 — 基煜基金 in lines[:2]
    PlatformRule("jiyu", Seq(Seq(C(0, 2, "基煜基金"))),
      "账户名称", "产品代码", "确认金额", "确认份额", "手续费", "确认日期"),
    // :1499 — (宁波 in filename AND NOT 北极星 in filename) OR
    //          (宁波银行 in lines[15:] AND NOT 联泰 in lines[:5])
    PlatformRule("ningbo", Seq(
      Seq(F("ningbo"), not(F("beijixing"))), // 宁波 ∧ ¬北极星
      Seq(C(15, -1, "宁波银行"), not(C(0, 5, "联泰")))),
      "客户名称", "产品代码", "确认金额（元）", "确认份额（份）", "申购费用（元）",
      "确认日期"),
    // :1500 — 国信嘉利基金 in lines[:2]
    PlatformRule("guoxinjiali", Seq(Seq(C(0, 2, "国信嘉利基金"))),
      "账户名称", "产品代码", "确认金额", "确认份额", "手续费", "确认日期"),
    // :1501 — 攀赢 in filename OR lines[:2]
    PlatformRule("panying", Seq(Seq(F("panying")), Seq(C(0, 2, "攀赢"))),
      "客户名称", "产品代码", "确认金额", "确认份额", "手续费", "确认日期"),
    // :1502 — 证达通 anywhere AND 申购确认单 anywhere
    PlatformRule("zhengdatong", Seq(Seq(C("证达通"), C("申购确认单"))),
      "基金名称", "基金代码", "确认金额", "确认份额", "手续费", "确认日期"),
    // :1484 (evaluated LAST in the elif chain, :1566) — 盈米 in
    // filename OR lines[:3]
    PlatformRule("yingmi", Seq(Seq(F("yingmi")), Seq(C(0, 3, "盈米"))),
      "产品名称", "基金代码", "交易金额", "确认份额", "手续费", "确认日期",
      recMarker = "交易序号"), // multi-record (:173-271)
    // :1490 (evaluated LAST, :1568) — (北极星 in filename OR 联泰 in
    // lines[:2]) AND 申购 in lines[:20]
    PlatformRule("liantai", Seq(
      Seq(F("beijixing"), C(0, 20, "申购")), // 北极星
      Seq(C(0, 2, "联泰"), C(0, 20, "申购"))),
      "投资账户", "基金代码", "确认金额（元）", "确认份额（份）", "手续费（元）",
      "确认日期", recMarker = "交易信息")) // multi-record (:660-726)

  /** Business-type routing rules, ordered, first match wins — the
    * reference's filename exclusion algebra
    * (`purchase_confirm_extractor.py:1440-1461`): 强行调 / 调增 /
    * 超级转换 / 转换 / 分红方式 files are excluded from confirm
    * processing, and 赎回-in-filename is kept (as a purchase confirm)
    * only for 江苏银行 / 融联创. Row = (filename keyword, keep-only-if
    * ANY of these extra filename keywords, biz code); keywords are the
    * corpus's pinyin tokens for the reference's Chinese originals
    * (noted inline). Exclusion classes route to EXCL_* — surfaced,
    * never dropped (the reference's skip becomes a routable class so
    * downstream consumers can filter or audit them).
    */
  private[graft] val bizRules: Seq[(String, Seq[String], String)] = Seq(
    ("qiangxingtiao", Nil, "EXCL_FORCE_ADJ"), // 强行调
    ("tiaozeng", Nil, "EXCL_ADJ_UP"), // 调增
    ("chaojizhuanhuan", Nil, "EXCL_CONVERT"), // 超级转换 (before 转换)
    ("zhuanhuan", Nil, "EXCL_CONVERT"), // 转换
    ("fenhongfangshi", Nil, "EXCL_DIV_METHOD"), // 分红方式 (before 分红)
    // 赎回 kept as a purchase CONFIRM only for 江苏银行 / 融联创
    ("shuhui", Seq("jiangsuyinhang", "ronglianchuang"), "CONF"),
    ("shengouqueren", Nil, "CONF"), // 申购确认 (before 申购)
    ("shengou", Nil, "SUB"), // 申购
    ("shuhui", Nil, "RED"), // 赎回
    ("fenhong", Nil, "DIV")) // 分红

  /** One row of the REDEMPTION platform matrix — the reference's
    * redemption extractor carries its OWN signature chain and label
    * set next to the purchase-confirm one
    * (`redemption_extractor.py:1223-1290` signatures, `:35-1160`
    * extractors): is_jd keys on 赎回确认 where the confirm chain keys
    * on 申购确认, liantai/ronglianchuang scope 赎回 instead of 申购,
    * and nearly every platform disagrees with its confirm twin on the
    * name label (账户名称/账户户名/投资者信息/来款账号名称/...). On
    * top of [[PlatformRule]]'s shape this adds the reference's DATE
    * MODES and defaults as data:
    *   - dateMode "hyphen": label：yyyy-MM-dd, hyphens stripped
    *     (`:66-71`); "plain8": label：yyyyMMdd (`:199-201`);
    *     "nextline": the 8-digit date is on the line AFTER the label
    *     (tiantian, `:120-126`); "tplus": T+n arithmetic from the run
    *     date with a direct-date alternate (pingan, `:663-686`);
    *     "today": no date in the statement at all — always the run
    *     date (`:585-598` wangjin et al).
    *   - dateFallback: label found nothing → run date (haomai
    *     `:70-72`) vs empty (jd `:254`) — per-platform variance.
    *   - feeDefault: missing fee extracts as 0.00 (wangjin `:585`,
    *     panying `:1085-1087`, liantai `:849`) vs NULL.
    *   - recMarker/recValidity: multi-record platforms and their
    *     per-record validity rule — yingmi keeps code∧(amount∨shares)
    *     (`:296-300`), liantai the stricter code∧amount (`:919-920`),
    *     tengyuan code alone (`:833`).
    *   - sectionMarker: extraction scoped to the text from the marker
    *     on (jd super-conversion forced redemption, `:388-395`); a
    *     file without the marker extracts nothing.
    */
  private[graft] final case class RedeemRule(platform: String,
      clauses: Seq[Seq[SigLit]], nameLabel: String, codeLabel: String,
      amountLabel: String, sharesLabel: String, feeLabel: String,
      dateLabel: String, dateMode: String, dateFallback: Boolean,
      feeDefault: Boolean = false, recMarker: String = "",
      recValidity: String = "", sectionMarker: String = "")
      extends SigRule

  /** The redemption extractor's 17-platform matrix in the reference's
    * elif order (`redemption_extractor.py:1240-1290` — jd_conversion
    * is defined early but evaluated LAST, `:1286-1290`).
    */
  private[graft] val redemptionMatrix: Seq[RedeemRule] = Seq(
    // :1223 — 好买基金 in lines[:2] ∧ ¬转换
    RedeemRule("haomai", Seq(Seq(C(0, 2, "好买基金"), not(C("转换")))),
      "账户名称", "产品代码", "确认金额", "确认份额", "手续费",
      "预计到账日", "hyphen", dateFallback = true),
    // :1224 — (天天基金 in file OR lines[3:]) ∧ ¬转换; date on NEXT line
    RedeemRule("tiantian", Seq(
      Seq(F("tiantian"), not(C("转换"))),
      Seq(C(3, -1, "天天基金"), not(C("转换")))),
      "账户户名", "基金代码", "确认金额", "确认份额", "确认费用",
      "预计赎回到账", "nextline", dateFallback = true),
    // :1225 — 利得基金 in lines[3:]; empty-date fallback (:158-165)
    RedeemRule("lide", Seq(Seq(C(3, -1, "利得基金"))),
      "投资者姓名/名称", "基金代码", "确认金额（元）", "确认份额（份）",
      "交易费用（元）", "预计到账日期", "hyphen", dateFallback = false),
    // :1226 — 长量基金 in lines[:2]; the date is already yyyyMMdd
    RedeemRule("changliang", Seq(Seq(C(0, 2, "长量基金"))),
      "投资者名称", "基金代码", "确认金额", "确认份额", "手续费",
      "预计赎回款到账日", "plain8", dateFallback = false),
    // :1228 — 交e通 in filename OR 交通银行 in lines[:2]; fee=赎回手续费
    RedeemRule("jiaohang", Seq(Seq(F("jiaoetong")), Seq(C(0, 2, "交通银行"))),
      "投资者信息", "产品代码", "确认金额", "确认份额", "赎回手续费",
      "确认日期", "plain8", dateFallback = false),
    // :1230 — 肯特瑞 ∧ 赎回确认, both in lines[:2] (the confirm chain
    // keys on 申购确认 here)
    RedeemRule("jingdong", Seq(Seq(C(0, 2, "肯特瑞"), C(0, 2, "赎回确认"))),
      "客户名称", "基金代码", "确认金额", "确认份额", "手续费",
      "预计到账日", "hyphen", dateFallback = false),
    // :1231 — 网金 in filename OR 网金基金 in lines[5:]; shares=赎回份额,
    // fee default 0.00 (:585-598), no date in the statement
    RedeemRule("wangjin", Seq(Seq(F("wangjin")), Seq(C(5, -1, "网金基金"))),
      "投资者名称", "基金代码", "确认金额", "赎回份额", "费开户",
      "", "today", dateFallback = true, feeDefault = true),
    // :1232 — 行E通 in lines[5:]; T+n date with direct-date alternate
    RedeemRule("pingan", Seq(Seq(C(5, -1, "行E通"))),
      "账户名称", "基金代码", "确认金额", "确认份额", "手续费",
      "赎回最快到账日", "tplus", dateFallback = true),
    // :1233 — 建行 in filename OR spaced 客 户 名 称 anywhere
    RedeemRule("jianhang", Seq(Seq(F("jianhang")), Seq(C("客 户 名 称"))),
      "客 户 名 称", "基 金 代 码", "确 认 金 额", "确 认 份 额",
      "手 续 费", "", "today", dateFallback = true),
    // :1235 — (江苏银行 in filename OR 融联创 in lines[:2]) ∧ 赎回 in
    // lines[:5] (the confirm chain scopes 申购 here)
    RedeemRule("ronglianchuang", Seq(
      Seq(F("jiangsuyinhang"), C(0, 5, "赎回")),
      Seq(C(0, 2, "融联创"), C(0, 5, "赎回"))),
      "来款账号名称", "产品代码", "确认金额", "确认份额", "手续费",
      "", "today", dateFallback = true),
    // :1236 — 民生同业e+ in filename OR 同业e+ in lines[2:]
    RedeemRule("minsheng", Seq(Seq(F("minshengtongye")), Seq(C(2, -1, "同业e+"))),
      "客户名称", "产品代码", "确认金额（元）", "确认份额（份）",
      "手续费（元）", "", "today", dateFallback = true),
    // :1237 — 攀赢 in filename OR lines[:2]; fee default 0.00
    RedeemRule("panying", Seq(Seq(F("panying")), Seq(C(0, 2, "攀赢"))),
      "客户名称", "产品代码", "确认金额", "确认份额", "手续费",
      "", "today", dateFallback = true, feeDefault = true),
    // :1227 (evaluated at :1278) — 盈米 in filename OR lines[:3];
    // multi-record on 交易序号, per-record date, or-validity (:296-300)
    RedeemRule("yingmi", Seq(Seq(F("yingmi")), Seq(C(0, 3, "盈米"))),
      "投资者名称", "基金代码", "确认金额", "确认份额", "手续费",
      "到账日期", "hyphen", dateFallback = false,
      recMarker = "交易序号", recValidity = "code_any"),
    // :1234 (evaluated at :1280) — (北极星 in filename OR 联泰 in
    // lines[:2]) ∧ 赎回 in lines[:15]; multi-record on 交易信息,
    // fee default 0.00, strict code∧amount validity (:919-920)
    RedeemRule("liantai", Seq(
      Seq(F("beijixing"), C(0, 15, "赎回")),
      Seq(C(0, 2, "联泰"), C(0, 15, "赎回"))),
      "投资账户", "基金代码", "确认金额（元）", "确认份额（份）",
      "手续费（元）", "预计到账日期", "hyphen", dateFallback = false,
      feeDefault = true, recMarker = "交易信息", recValidity = "code_amount"),
    // :1231' (evaluated at :1282) — 腾元 in filename OR 腾元基金 in
    // lines[5:]; multi-record on 业务类型：赎回确认, code-only validity
    RedeemRule("tengyuan", Seq(Seq(F("tengyuan")), Seq(C(5, -1, "腾元基金"))),
      "客户名称", "基金代码", "确认金额", "确认份额", "手续费",
      "", "today", dateFallback = true,
      recMarker = "业务类型：赎回确认", recValidity = "code"),
    // :1239 (evaluated at :1284) — 证达通 ∧ 赎回确认ANYWHERE; the
    // positional summary-table platform (etl_redeem_rows)
    RedeemRule("zhengdatong", Seq(Seq(C("证达通"), C("赎回确认"))),
      "投资者名称", "基金代码", "确认金额", "确认份额", "手续费",
      "", "today", dateFallback = true),
    // :1229 (evaluated LAST, :1286) — 肯特瑞 ∧ 转换, filename or
    // lines[:2]; extraction scoped to the 强行赎回确认 section
    RedeemRule("jd_conversion", Seq(
      Seq(F("kenteri"), F("zhuanhuan")),
      Seq(C(0, 2, "肯特瑞"), C(0, 2, "转换"))),
      "客户名称", "基金代码", "确认金额", "确认份额", "手续费",
      "预计到账日", "hyphen", dateFallback = false,
      sectionMarker = "强行赎回确认"))

  /** The redemption walk's exclusion algebra
    * (`redemption_extractor.py:1191-1203`): 强行调 / 调增 / 分红方式
    * files are skipped, and 申购-in-filename is skipped UNLESS the file
    * is 江苏银行 / 融联创 — the exact mirror of the confirm chain's
    * 赎回 exception. Everything else in a redemption folder IS a
    * redemption confirm, so the chain's default is RED, not OTH.
    */
  private[graft] val redeemBizRules: Seq[(String, Seq[String], String)] = Seq(
    ("qiangxingtiao", Nil, "EXCL_FORCE_ADJ"), // 强行调
    ("tiaozeng", Nil, "EXCL_ADJ_UP"), // 调增
    ("fenhongfangshi", Nil, "EXCL_DIV_METHOD"), // 分红方式
    // 申购 kept as a redemption confirm only for 江苏银行 / 融联创
    ("shengou", Seq("jiangsuyinhang", "ronglianchuang"), "RED"),
    ("shengou", Nil, "EXCL_SUB"))

  /** One row of the DIVIDEND platform matrix — the reference's THIRD
    * extractor chain (`dividend_extractor.py:1301-1323` signatures,
    * `:35-1260` extractors). Structural differences from the other
    * two chains, all carried as data:
    *   - no ¬转换 negations and no walk-level exclusion algebra (the
    *     walk filters on the 分红 folder only, `:1280-1284`);
    *   - VALUE-COUPLED platforms: one extracted number feeds both
    *     派送金额 and 派送份额 (amountLabel = "" — 13 of 23 platforms,
    *     e.g. pingan `:397-406`, jiaohang `:434-441`);
    *   - per-field value placement modes: "same" (label：value),
    *     "next" (value on the line after the label — tiantian
    *     `:87-96`), "both" (same-line first, then next-line — the
    *     strategy-A/B fallbacks of hexun/wangjin/panying);
    *   - endFromConfirm: jiaohang's 红利截止日期 = extracted 确认日期
    *     minus one day (`:445-458`); every other platform defaults to
    *     the run date minus one (`:1436-1441`);
    *   - tokenMode: guoxinjiali's positional token row — the 6-digit
    *     code token before 分红, the value 6 tokens after it, and the
    *     product name from the FILENAME prefix (`:1099-1160`);
    *   - recMarker/recValidity: yingmi 序号: blocks need
    *     code∧amount∧shares (`:253-255`); liantai 交易信息 blocks need
    *     code∧shares with amount = shares (`:860-872`).
    */
  private[graft] final case class DivRule(platform: String,
      clauses: Seq[Seq[SigLit]], nameLabel: String, codeLabel: String,
      amountLabel: String, sharesLabel: String,
      amountMode: String = "same", sharesMode: String = "same",
      recMarker: String = "", recValidity: String = "",
      endFromConfirm: Boolean = false, tokenMode: Boolean = false)
      extends SigRule

  /** The dividend chain's 23 platforms in the reference's elif order
    * (`dividend_extractor.py:1325-1443`).
    */
  private[graft] val dividendMatrix: Seq[DivRule] = Seq(
    // :1301 — 好买基金 in lines[:2] (no ¬转换 in this chain)
    DivRule("haomai", Seq(Seq(C(0, 2, "好买基金"))),
      "账户名称", "产品代码", "确认金额", "确认份额"),
    // :1302 — 天天基金 in file OR lines[3:]; both values on the NEXT
    // line after their label (:87-96)
    DivRule("tiantian", Seq(Seq(F("tiantian")), Seq(C(3, -1, "天天基金"))),
      "账户户名", "基金代码", "红利资金（元", "红利再投资基",
      amountMode = "next", sharesMode = "next"),
    // :1303 — 兴证全球基金 in lines[:2]; coupled on 再投资份额
    DivRule("xingzheng", Seq(Seq(C(0, 2, "兴证全球基金"))),
      "账 号 名 称", "基 金 代 码", "", "再投资份额"),
    // :1304 — 利得基金 in lines[3:]
    DivRule("lide", Seq(Seq(C(3, -1, "利得基金"))),
      "投资者姓名/名称", "基金代码", "红利总金额（元）", "红利再投份额（份）"),
    // :1305 — 长量基金 in lines[:2]; coupled on 红利转投份额
    DivRule("changliang", Seq(Seq(C(0, 2, "长量基金"))),
      "投资者名称", "基金代码", "", "红利转投份额"),
    // :1306 — 盈米 in file OR lines[:3]; multi-record 序号: blocks,
    // all-three validity (:253-255)
    DivRule("yingmi", Seq(Seq(F("yingmi")), Seq(C(0, 3, "盈米"))),
      "投资者名称", "基金代码", "分红金额", "红利再投份额",
      recMarker = "序号:", recValidity = "all"),
    // :1307 — 招赢通 in lines[:2]; the amount value rides after CNY
    DivRule("zhaoyingtong", Seq(Seq(C(0, 2, "招赢通"))),
      "投资者名称", "产品代码", "CNY", "转投份额[(]份[)]"),
    // :1308 — 邮储 in filename ONLY; 再投资金额 + 红股
    DivRule("youchu", Seq(Seq(F("youchu"))),
      "客户名称", "产品代码", "再投资金额", "红股"),
    // :1309 — 行E通 in lines[5:]; coupled on half-width 确认份额(份)
    DivRule("pingan", Seq(Seq(C(5, -1, "行E通"))),
      "账户名称", "基金代码", "", "确认份额[(]份[)]"),
    // :1310 — 交e通 in file OR 交通银行 in lines[:2]; coupled on
    // 转投份额; 红利截止日期 = 确认日期 - 1 (:445-458)
    DivRule("jiaohang", Seq(Seq(F("jiaoetong")), Seq(C(0, 2, "交通银行"))),
      "投资者信息", "产品代码", "", "转投份额", endFromConfirm = true),
    // :1311 — 和讯信息科技有限公司 in lines[3:]; shares same-then-next
    DivRule("hexun", Seq(Seq(C(3, -1, "和讯信息科技有限公司"))),
      "账户名称", "基金代码", "红利资金[(]元[)]", "红利再投资确认份",
      sharesMode = "both"),
    // :1312 — 建行 in file OR spaced 客 户 名 称; coupled on 红 股
    DivRule("jianhang", Seq(Seq(F("jianhang")), Seq(C("客 户 名 称"))),
      "客 户 名 称", "基 金 代 码", "", "红 股"),
    // :1313 — 腾元 in file OR 腾元基金 in lines[5:]; coupled
    DivRule("tengyuan", Seq(Seq(F("tengyuan")), Seq(C(5, -1, "腾元基金"))),
      "客户名称", "基金代码", "", "红利再投份额"),
    // :1314 — 网金 in file OR 网金基金 in lines[5:]; coupled,
    // same-then-next (:687-709)
    DivRule("wangjin", Seq(Seq(F("wangjin")), Seq(C(5, -1, "网金基金"))),
      "客户名称", "基金代码", "", "红利再投份额", sharesMode = "both"),
    // :1315 — 肯特瑞基金 in FILENAME (this chain's variant) OR 肯特瑞
    // in lines[:2]
    DivRule("jingdong", Seq(Seq(F("kenterijijin")), Seq(C(0, 2, "肯特瑞"))),
      "客户名称", "基金代码", "红利再投金额", "红利再投份额"),
    // :1316 — 融联创 in lines[:2]; name = 投资主体产品名称, coupled
    DivRule("ronglianchuang", Seq(Seq(C(0, 2, "融联创"))),
      "投资主体产品名称", "基金代码", "", "再投资份额（份）"),
    // :1317 — 北极星 in file OR 联泰 in lines[:2] (no 赎回/申购
    // conjunct in this chain); multi-record, code∧shares validity
    DivRule("liantai", Seq(Seq(F("beijixing")), Seq(C(0, 2, "联泰"))),
      "投资账户", "基金代码", "", "红利再投份额[(]份[)]",
      recMarker = "交易信息", recValidity = "code_shares"),
    // :1318 — 民生同业e+ in file OR 同业e+ in lines[2:]; coupled
    DivRule("minsheng", Seq(Seq(F("minshengtongye")), Seq(C(2, -1, "同业e+"))),
      "客户名称", "产品代码", "", "确认份额（份）"),
    // :1319 — 证达通 ANYWHERE (no second conjunct in this chain);
    // the tabular/single-bill platform (etl_div_rows)
    DivRule("zhengdatong", Seq(Seq(C("证达通"))),
      "投资者名称", "基金代码", "", "分红份额"),
    // :1320 — 基煜基金 in lines[:2]
    DivRule("jiyu", Seq(Seq(C(0, 2, "基煜基金"))),
      "客户名称", "产品代码", "再投资金额", "再投资份额"),
    // :1321 — 宁波 in file OR 同业客户付款账户信息 in lines[5:]
    // (no ¬北极星 in this chain); coupled on 红利份额（份）
    DivRule("ningbo", Seq(Seq(F("ningbo")), Seq(C(5, -1, "同业客户付款账户信息"))),
      "客户名称", "产品代码", "", "红利份额（份）"),
    // :1322 — 国信嘉利基金 in lines[:2]; token-positional row, name
    // from the filename prefix
    DivRule("guoxinjiali", Seq(Seq(C(0, 2, "国信嘉利基金"))),
      "", "", "", "", tokenMode = true),
    // :1323 — 攀赢 in file OR lines[:2]; 所得现金（元） same-line,
    // 所得份额（份） same-then-next (:1248-1257)
    DivRule("panying", Seq(Seq(F("panying")), Seq(C(0, 2, "攀赢"))),
      "客户名称", "产品代码", "所得现金（元）", "所得份额（份）",
      sharesMode = "both"))

  /** One row of the PURCHASE-APPLY platform matrix — the reference's
    * FOURTH chain (`purchase_extractor.py:988-1015` signatures,
    * `:34-946` extractors). The apply master carries exactly ONE
    * money field (申购金额, `:1083-1100` — no shares, no fee), so a
    * row is name/code/amount labels plus an amount placement mode
    * ("same" or "both" — wangjin's same-then-next fallback,
    * `:399-406`). Chain-specific structure, all as data:
    * ronglianchuang scopes 融联创 in lines[8:] (`:1001`), ningbo
    * carries the full 宁波∧¬北极星 / 宁波银行[15:]∧¬联泰[:5] negative
    * conjunction (`:1004`), guoxinjiali is a NORMAL label platform
    * here (no token row), and zdt is a disjunction of two
    * multi-literal conjunctions — 证达通 ∧ the
    * 赎回交易（合计0笔，共计0.00份） marker ∧ ¬超级, OR 证达通 ∧
    * 申购受理单 (`:1011-1015`) — whose two extraction formats live in
    * etl_apply_rows.
    */
  private[graft] final case class ApplyRule(platform: String,
      clauses: Seq[Seq[SigLit]], nameLabel: String, codeLabel: String,
      amountLabel: String, amountMode: String = "same",
      recMarker: String = "") extends SigRule

  private[graft] val applyMatrix: Seq[ApplyRule] = Seq(
    // :988 — 好买基金 in lines[:2]
    ApplyRule("haomai", Seq(Seq(C(0, 2, "好买基金"))),
      "账户名称", "产品代码", "申请金额小写"),
    // :989 — 天天基金 in file OR lines[3:]
    ApplyRule("tiantian", Seq(Seq(F("tiantian")), Seq(C(3, -1, "天天基金"))),
      "账户户名", "基金代码", "申请金额"),
    // :990 — 利得基金 in lines[3:]
    ApplyRule("lide", Seq(Seq(C(3, -1, "利得基金"))),
      "投资者姓名/名称", "基金代码", "申请金额（元）"),
    // :991 — 长量基金 in lines[:2]
    ApplyRule("changliang", Seq(Seq(C(0, 2, "长量基金"))),
      "投资者名称", "基金代码", "申请金额"),
    // :993 — 行E通 in lines[5:]
    ApplyRule("pingan", Seq(Seq(C(5, -1, "行E通"))),
      "账户名称", "基金代码", "申请金额"),
    // :994 — 交e通 in file OR 交通银行 in lines[:2]; slash label
    ApplyRule("jiaohang", Seq(Seq(F("jiaoetong")), Seq(C(0, 2, "交通银行"))),
      "投资者信息", "产品代码", "申请金额/份额"),
    // :995 — 网金 in file OR 网金基金 in lines[5:]; same-then-next
    ApplyRule("wangjin", Seq(Seq(F("wangjin")), Seq(C(5, -1, "网金基金"))),
      "投资者名称", "基金代码", "申购金额（小写）", amountMode = "both"),
    // :996 — 腾元 in file OR 腾元基金 in lines[5:]
    ApplyRule("tengyuan", Seq(Seq(F("tengyuan")), Seq(C(5, -1, "腾元基金"))),
      "投资者名称", "基金代码", "申购金额（小写）"),
    // :997 — 和讯信息科技有限公司 in lines[3:]
    ApplyRule("hexun", Seq(Seq(C(3, -1, "和讯信息科技有限公司"))),
      "账户名称", "基金代码", "申请金额"),
    // :998 — 肯特瑞基金 in file OR 肯特瑞 in lines[:2]; half-width (元)
    ApplyRule("jingdong", Seq(Seq(F("kenterijijin")), Seq(C(0, 2, "肯特瑞"))),
      "客户名称", "基金代码", "申请金额[(]元[)]"),
    // :999 — 民生同业e+ in file OR 同业e+ in lines[2:]; slash label
    ApplyRule("minsheng", Seq(Seq(F("minshengtongye")), Seq(C(2, -1, "同业e+"))),
      "客户名称", "产品代码", "委托金额/委托份额"),
    // :1000 — 招赢通 in lines[:2]; amount after CNY
    ApplyRule("zhaoyingtong", Seq(Seq(C(0, 2, "招赢通"))),
      "投资者名称", "产品代码", "CNY"),
    // :1001 — 融联创 in lines[8:] — this chain's unique scope
    ApplyRule("ronglianchuang", Seq(Seq(C(8, -1, "融联创"))),
      "投资者名称", "基金代码", "申请金额"),
    // :1003 — 基煜基金 in lines[:2]
    ApplyRule("jiyu", Seq(Seq(C(0, 2, "基煜基金"))),
      "账户名称", "产品代码", "申购金额（小写）"),
    // :1004 — (宁波 ∧ ¬北极星 in filename) OR (宁波银行 in lines[15:]
    // ∧ ¬联泰 in lines[:5]) — the full negative conjunction
    ApplyRule("ningbo", Seq(
      Seq(F("ningbo"), not(F("beijixing"))),
      Seq(C(15, -1, "宁波银行"), not(C(0, 5, "联泰")))),
      "客户名称", "产品代码", "申请金额（元）"),
    // :1005 — 国信嘉利基金 in lines[:2]; plain labels in this chain
    ApplyRule("guoxinjiali", Seq(Seq(C(0, 2, "国信嘉利基金"))),
      "账户名称", "产品代码", "申请金额"),
    // :1006 — 攀赢 in file OR lines[:2]
    ApplyRule("panying", Seq(Seq(F("panying")), Seq(C(0, 2, "攀赢"))),
      "客户名称", "产品代码", "申购金额（小写）"),
    // :992 (evaluated at :1070) — 盈米 in file OR lines[:3];
    // multi-record on 交易类型-申购 lines, code∧amount validity
    ApplyRule("yingmi", Seq(Seq(F("yingmi")), Seq(C(0, 3, "盈米"))),
      "投资者名称", "基金代码", "申请金额", recMarker = "交易类型：申购"),
    // :1002 (evaluated at :1073) — 北极星 in file OR 联泰 in lines[:2]
    ApplyRule("liantai", Seq(Seq(F("beijixing")), Seq(C(0, 2, "联泰"))),
      "投资账户", "基金代码", "申请金额[(]元[)]", recMarker = "交易信息"),
    // :1011-1015 (evaluated LAST) — (证达通 ∧ 赎回交易（合计0笔，共计
    // 0.00份） ∧ ¬超级) OR (证达通 ∧ 申购受理单)
    ApplyRule("zhengdatong", Seq(
      Seq(C("证达通"), C("赎回交易（合计0笔，共计0.00份）"), not(C("超级"))),
      Seq(C("证达通"), C("申购受理单"))),
      "投资者名称", "基金代码", "申购金额（小写）"))

  /** The apply walk's filename exclusions
    * (`purchase_extractor.py:971-973`): 赎回 / 超级 / 转换 / 分红方式 /
    * 分红设置 / 失效 files never enter the apply run. Default SUB —
    * everything left in an apply folder IS an apply.
    */
  private[graft] val applyBizRules: Seq[(String, Seq[String], String)] = Seq(
    ("shuhui", Nil, "EXCL_RED"), // 赎回
    ("chaoji", Nil, "EXCL_SUPER"), // 超级
    ("zhuanhuan", Nil, "EXCL_CONVERT"), // 转换
    ("fenhongfangshi", Nil, "EXCL_DIV_METHOD"), // 分红方式
    ("fenhongshezhi", Nil, "EXCL_DIV_SET"), // 分红设置
    ("shixiao", Nil, "EXCL_VOID")) // 失效

  /** The CONVERSION (超级转换) chain — the reference's fifth and
    * smallest walk (`conversion_extractor.py`): TWO platforms only
    * (jd 肯特瑞基金-in-filename OR 肯特瑞 lines[:2]; tiantian
    * 天天基金-in-filename ONLY, `:143-144`), an INCLUSION filename
    * filter (only 超级/转换 files enter the run, `:126`), its OWN
    * product dict (`product_codes_conversion.json`, `:27-40`), and
    * two structurally different extraction modes: jd's paired out/in
    * label set vs tiantian's positional format (the out-leg value
    * PAIR on the line after the bare 转出基金确认 label — shares then
    * amount `:163-169` — the in-leg single next-line value, the dual
    * fee strategies `:180-204`, the 万联-anchored two-line name, and
    * the DERIVED 转入金额 = 转出金额 − 手续费, `:215-221`).
    */
  private[graft] final case class ConvRule(platform: String,
      clauses: Seq[Seq[SigLit]], mode: String) extends SigRule // labels | pairnext

  private[graft] val convMatrix: Seq[ConvRule] = Seq(
    ConvRule("jingdong", Seq(Seq(F("kenterijijin")), Seq(C(0, 2, "肯特瑞"))),
      "labels"),
    ConvRule("tiantian", Seq(Seq(F("tiantian"))), "pairnext"))

  /** The conversion walk's INCLUSION filter (`conversion_extractor.py:126`):
    * only 超级/转换 files enter the run; everything else surfaces as
    * EXCL_NOT_CONV. */
  private[graft] val convBizRules: Seq[(String, Seq[String], String)] = Seq(
    ("chaoji", Nil, "CONV"), // 超级
    ("zhuanhuan", Nil, "CONV")) // 转换

  /** product_codes_conversion.json analog — the conversion walk's OWN
    * dict (two corpus products deliberately unmapped). */
  private[graft] val convLedger: Seq[(String, String)] = Seq(
    ("安鑫回报混合A", "C001"), ("万联稳健配置混合计划A期", "C002"),
    ("稳健增利债券C", "C003"), ("万联价值精选混合计划B期", "C004"))

  /** product_codes.json analog: product name → ledger id (two corpus
    * products deliberately unmapped to exercise the miss path).
    */
  private[graft] val productLedger: Seq[(String, String)] = Seq(
    ("安鑫回报混合A", "L001"), ("稳健增利债券C", "L002"),
    ("创新成长股票", "L003"), ("货币增值宝B", "L004"))

  /** The committed statement-file corpus (tools/gen_statements.py) —
    * dated folders of per-platform text statements, the same input
    * layout the reference walks with os.walk
    * (`purchase_confirm_extractor.py:1417-1439`).
    */
  private[graft] val statementsDir = corpusDir("statements")

  /** A folder of the committed corpus, under [[graft.sources.BinaryFiles.dataRoot]]. */
  private def corpusDir(name: String): String = s"${graft.sources.BinaryFiles.dataRoot}/$name"

  /** One statement walk as data — everything [[classify]] compiles for
    * Spark and [[walkCtes]] renders for the oracle, so both engines
    * read the same rows:
    *   - `matrix`: the platform matrix, first match wins;
    *   - `labels`: the label columns, each a column name and then one
    *     value per matrix row (String or Boolean; "" is NULL in both
    *     engines);
    *   - `route`/`routeDefault`: the ordered filename-routing rows
    *     (keyword, keep-only-if-any-of, class) — empty for dividends;
    *   - `dir`: the committed corpus the walk reads;
    *   - `dict`/`dictValue`: the product dict, name → `dictValue`.
    */
  private[graft] final case class Walk(matrix: Seq[SigRule],
      labels: Seq[(String, Seq[Any])],
      route: Seq[(String, Seq[String], String)], routeDefault: String,
      dir: String, dict: Seq[(String, String)] = productLedger,
      dictValue: String = "ledger_id") {
    def platformArms: Seq[(String, Seq[Seq[SigLit]])] =
      matrix.map(r => r.platform -> r.clauses)
    /** A routing row as a filename DNF: kw ∧ (a ∨ b) ≡ (kw ∧ a) ∨ (kw ∧ b). */
    def routeArms: Seq[(String, Seq[Seq[SigLit]])] = route.map {
      case (kw, Nil, cls) => cls -> Seq(Seq(F(kw)))
      case (kw, any, cls) => cls -> any.map(a => Seq(F(kw), F(a)))
    }
    /** One row per platform: the platform, then its label values. */
    def labelRows: Seq[Seq[Any]] =
      matrix.indices.map(i => matrix(i).platform +: labels.map(_._2(i)))
  }

  private def labelCols[R](rows: Seq[R])(cols: (String, R => Any)*): Seq[(String, Seq[Any])] =
    cols.map { case (name, f) => name -> rows.map(f) }

  private[graft] val confirmWalk = Walk(platformMatrix,
    labelCols(platformMatrix)(("name_label", _.nameLabel),
      ("code_label", _.codeLabel), ("amount_label", _.amountLabel),
      ("shares_label", _.sharesLabel), ("fee_label", _.feeLabel),
      ("date_label", _.dateLabel), ("rec_marker", _.recMarker)),
    bizRules, "OTH", statementsDir)

  private[graft] val redeemWalk = Walk(redemptionMatrix,
    labelCols(redemptionMatrix)(("name_label", _.nameLabel),
      ("code_label", _.codeLabel), ("amount_label", _.amountLabel),
      ("shares_label", _.sharesLabel), ("fee_label", _.feeLabel),
      ("date_label", _.dateLabel), ("date_mode", _.dateMode),
      ("date_fb", _.dateFallback), ("fee_def", _.feeDefault),
      ("rec_marker", _.recMarker), ("rec_validity", _.recValidity),
      ("section_marker", _.sectionMarker)),
    redeemBizRules, "RED", corpusDir("redemptions"))

  private[graft] val divWalk = Walk(dividendMatrix,
    labelCols(dividendMatrix)(("name_label", _.nameLabel),
      ("code_label", _.codeLabel), ("amount_label", _.amountLabel),
      ("shares_label", _.sharesLabel), ("amount_mode", _.amountMode),
      ("shares_mode", _.sharesMode), ("rec_marker", _.recMarker),
      ("rec_validity", _.recValidity), ("end_confirm", _.endFromConfirm),
      ("token_mode", _.tokenMode)),
    Nil, "", corpusDir("dividends"))

  private[graft] val applyWalk = Walk(applyMatrix,
    labelCols(applyMatrix)(("name_label", _.nameLabel),
      ("code_label", _.codeLabel), ("amount_label", _.amountLabel),
      ("amount_mode", _.amountMode), ("rec_marker", _.recMarker)),
    applyBizRules, "SUB", corpusDir("applies"))

  private[graft] val convWalk = Walk(convMatrix,
    labelCols(convMatrix)(("mode", _.mode)),
    convBizRules, "EXCL_NOT_CONV", corpusDir("conversions"),
    convLedger, "conv_ledger")

  /** Signature-based document classification — the reference routes
    * each statement by substring signatures of filename + first lines
    * (`purchase_confirm_extractor.py:1480-1501`). Same shape: LIKE
    * rules with priority order, plus a market-class dimension.
    */
  val etlClassify: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        when(col("text").like("%stream%") && col("text").like("%window%"), "streaming_stmt")
          .when(col("text").like("%join%"), "join_stmt")
          .when(col("text").like("%group%") || col("text").like("%sort%"), "agg_stmt")
          .otherwise("other").as("doc_class"),
        when(col("lang") === "zh", "domestic").otherwise("cross_border").as("market_class"))
      .orderBy(col("doc_id"))

  /** Regex field extraction — the reference pulls 6-digit codes and
    * money fields out of statement text with `re.search` per platform.
    * Declarative twin: regexp_extract with ''→NULL normalization and
    * lpad code padding.
    */
  val etlExtractRegex: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        nullif(regexp_extract(col("text"), "(join|scan|sort|merge|filter)", 1), lit("")).as("first_op"),
        nullif(regexp_extract(col("text"), "the ([a-z]+)", 1), lit("")).as("after_the"),
        lpad(col("n_chars").cast("string"), 6, "0").as("doc_code"))
      .orderBy(col("doc_id"))

  /** Numeric normalization — comma-strip + cast + round(2) and
    * digit-extraction + 6-digit zero-pad, mirroring
    * `amount.replace(',','')` / `pd.to_numeric(...).round(2)` and the
    * fund-code padding of the reference.
    */
  val etlNormalizeNumbers: Q = (s, d) =>
    Tables.customer(s, d)
      .select(col("c_custkey"),
        lpad(regexp_extract(col("c_name"), "([0-9]+)", 1), 6, "0").as("cust_code"),
        round(col("c_acctbal"), 2).as("balance"),
        (col("c_acctbal") < 0).as("is_negative"),
        regexp_replace(lit("1,234,567.89"), ",", "").cast("double").as("comma_stripped"))
      .orderBy(col("c_custkey"))

  /** Multi-format date parsing — the reference normalizes dates from
    * many platform formats to yyyyMMdd. Round-trip two formats and
    * emit the standardized key.
    */
  val etlParseDates: Q = (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderdate"))
      .withColumn("slash_form", date_format(col("o_orderdate"), "yyyy/MM/dd"))
      .withColumn("euro_form", date_format(col("o_orderdate"), "dd-MM-yyyy"))
      .select(col("o_orderkey"),
        date_format(to_date(col("slash_form"), "yyyy/MM/dd"), "yyyy-MM-dd").as("parsed_date"),
        date_format(to_date(col("euro_form"), "dd-MM-yyyy"), "yyyyMMdd").as("std_date"))
      .orderBy(col("o_orderkey"))

  /** Semi-structured payload fields — JSON side-band extraction (the
    * reference carries platform payloads; here events.props).
    */
  val etlJsonFields: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k_val"),
        col("value"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k_val")).as("k_total"),
        round(avg(col("value")), 4).as("avg_value"))
      .orderBy(col("event_type"))

  /** Dictionary enrich with miss-flag — product_codes.json lookup:
    * name → ledger id, UNMAPPED rows surfaced instead of dropped.
    * The dict is tiny → explicit broadcast (map-side at any scale).
    */
  val etlEnrichLookup: Q = (s, d) => {
    val dict = Tables.nation(s, d).filter(col("n_nationkey") < 20)
      .select(col("n_nationkey").as("dict_key"), col("n_name").as("ledger_id"))
    Tables.customer(s, d)
      .join(broadcast(dict), col("c_nationkey") === col("dict_key"), "left")
      .select(col("c_custkey"), col("c_name"),
        coalesce(col("ledger_id"), lit("UNMAPPED")).as("ledger_id"),
        col("ledger_id").isNotNull.as("mapped"))
      .orderBy(col("c_custkey"))
  }

  /** Validation rule summary — the reference tracks failed files /
    * missing codes per run; here: rule → (total, passed) via a single
    * aggregate + stack (no per-rule rescan).
    */
  val etlValidate: Q = (s, d) =>
    Tables.orders(s, d)
      .agg(count(lit(1)).as("total"),
        sum((col("o_totalprice") > 0).cast("long")).as("amount_positive"),
        sum(col("o_orderstatus").isin("O", "F", "P").cast("long")).as("status_known"),
        sum(col("o_orderpriority").isNotNull.cast("long")).as("priority_present"),
        sum((col("o_orderdate") >= lit("1990-01-01").cast("date")).cast("long")).as("date_in_range"))
      .selectExpr("stack(4, " +
        "'amount_positive', amount_positive, " +
        "'date_in_range', date_in_range, " +
        "'priority_present', priority_present, " +
        "'status_known', status_known) as (rule, passed)", "total")
      .select(col("rule"), col("total"), col("passed"))
      .orderBy(col("rule"))

  /** Standardize + union — every extractor branch lands in one target
    * schema via pd.concat in the reference; here two heterogeneous
    * sources mapped into the standard (src, rec_id, biz_code,
    * fund_code, amount, fee, trade_date) schema and unioned.
    */
  val etlStandardizeUnion: Q = (s, d) => {
    val fromOrders = Tables.orders(s, d)
      .select(lit("orders").as("src"), col("o_orderkey").as("rec_id"),
        when(col("o_orderstatus") === "O", "SUB")
          .when(col("o_orderstatus") === "F", "RED")
          .otherwise("DIV").as("biz_code"),
        lpad((col("o_custkey") % 1000000).cast("string"), 6, "0").as("fund_code"),
        round(col("o_totalprice"), 2).as("amount"),
        money2(col("o_totalprice") * 0.0015).as("fee"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("trade_date"))
    val fromEvents = Tables.events(s, d)
      .filter(col("event_type").isin("purchase", "signup", "error"))
      .select(lit("events").as("src"), col("event_id").as("rec_id"),
        when(col("event_type") === "purchase", "SUB")
          .when(col("event_type") === "signup", "OPEN")
          .otherwise("OTH").as("biz_code"),
        lpad((col("user_id") % 1000000).cast("string"), 6, "0").as("fund_code"),
        round(col("value"), 2).as("amount"),
        money2(col("value") * 0.0015).as("fee"),
        date_format(col("ts"), "yyyy-MM-dd").as("trade_date"))
    fromOrders.unionAll(fromEvents).orderBy(col("src"), col("rec_id"))
  }

  /** Keep-latest dedup per business key — re-run safety: the reference
    * re-processes folders daily; latest record per (user, type) wins.
    */
  val etlDedupLatest: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"),
        round(col("value"), 2).as("value"),
        unix_micros(col("ts")).as("ts_us"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** Fee/commission model — tiered computed columns with round(2), the
    * shape of the reference's 手续费/佣金 handling.
    */
  val etlFeeModel: Q = (s, d) =>
    Tables.orders(s, d)
      .withColumn("rate",
        when(col("o_totalprice") < 50000, 0.012)
          .when(col("o_totalprice") < 200000, 0.008)
          .otherwise(0.005))
      .select(col("o_orderkey"),
        round(col("o_totalprice"), 2).as("amount"),
        col("rate"),
        money2(col("o_totalprice") * col("rate")).as("fee"),
        money2(greatest(col("o_totalprice") * col("rate") * 0.15, lit(10.0))).as("commission"))
      .orderBy(col("o_orderkey"))

  /** Dividend statement semantics — the reference's dividend extractor
    * (dividend_extractor.py:22) lands in a distinct schema (派送份额 /
    * 派送金额 / 红利截止日期) and distinguishes cash dividends from
    * reinvestment (红利再投资: shares credited at NAV, no cash). Same
    * split here with a deterministic NAV model and a cutoff date.
    */
  val etlDividend: Q = (s, d) =>
    Tables.orders(s, d)
      .filter(col("o_orderstatus") === "P")
      .withColumn("nav", lit(1.0) + (col("o_custkey") % 50).cast("double") / 100.0)
      .withColumn("div_type",
        when(col("o_orderkey") % 3 === 0, "REINVEST").otherwise("CASH"))
      .select(col("o_orderkey").as("rec_id"),
        lpad((col("o_custkey") % 1000000).cast("string"), 6, "0").as("fund_code"),
        col("div_type"),
        when(col("div_type") === "CASH", round(col("o_totalprice"), 2))
          .otherwise(0.0).as("pay_amount"),
        when(col("div_type") === "REINVEST", money2(col("o_totalprice") / col("nav")))
          .otherwise(0.0).as("pay_shares"),
        col("nav"),
        date_format(date_add(col("o_orderdate"), 2), "yyyy-MM-dd").as("cutoff_date"))
      .orderBy(col("rec_id"))

  /** Conversion (超级转换) semantics — one record carries BOTH legs
    * (conversion_extractor.py:22-23: 转出* out-leg + 转入* in-leg
    * columns) and uses its own product-code dict (a second mapping
    * file). Out-leg fee is deducted before the in-leg is credited at
    * the target NAV; the conversion dict here is the region table.
    */
  val etlConversion: Q = (s, d) => {
    val convDict = Tables.region(s, d)
      .select(col("r_regionkey").as("conv_key"), col("r_name").as("conv_ledger"))
    Tables.orders(s, d)
      .filter(col("o_orderstatus") === "O")
      .withColumn("out_fee", money2(col("o_totalprice") * 0.001))
      .withColumn("in_amount", money2(col("o_totalprice") - col("out_fee")))
      .withColumn("in_nav", lit(1.0) + (col("o_orderkey") % 40).cast("double") / 100.0)
      .join(broadcast(convDict), (col("o_custkey") % 5) === col("conv_key"), "left")
      .select(col("o_orderkey").as("rec_id"),
        coalesce(col("conv_ledger"), lit("UNMAPPED")).as("conv_ledger"),
        lpad((col("o_custkey") % 1000000).cast("string"), 6, "0").as("out_code"),
        round(col("o_totalprice"), 2).as("out_amount"),
        col("out_fee"),
        lpad((col("o_orderkey") % 1000000).cast("string"), 6, "0").as("in_code"),
        col("in_amount"),
        money2(col("in_amount") / col("in_nav")).as("in_shares"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("out_confirm_date"),
        date_format(date_add(col("o_orderdate"), 1), "yyyy-MM-dd").as("in_confirm_date"))
      .orderBy(col("rec_id"))
  }

  /** Manual-redemption detail semantics — the manual redemption
    * extractor's schema (manual_redemption_extractor.py:279) carries
    * 是否结转收益 (carry-forward-P&L flag), 赎回类型 (redemption type)
    * and settlement timing; purchase-confirm adds 买入利息 (accrued
    * interest). Modeled: arrival lag, day-count interest accrual,
    * type classification, carry flag.
    */
  val etlRedemptionDetail: Q = (s, d) =>
    Tables.orders(s, d)
      .filter(col("o_orderstatus") === "F")
      .withColumn("arrival_date",
        date_add(col("o_orderdate"), ((col("o_orderkey") % 7) + 1).cast("int")))
      .withColumn("hold_days", datediff(col("arrival_date"), col("o_orderdate")).cast("long"))
      .select(col("o_orderkey").as("rec_id"),
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "FORCED")
          .otherwise("NORMAL").as("redemption_type"),
        round(col("o_totalprice"), 2).as("amount"),
        col("hold_days"),
        money2(col("o_totalprice") * 0.035 / 365.0 * col("hold_days")).as("interest"),
        (col("o_totalprice") > 100000).as("carry_forward"),
        date_format(col("arrival_date"), "yyyy-MM-dd").as("arrival_date"))
      .orderBy(col("rec_id"))

  /** Typed JSON parsing — from_json with an explicit schema (the
    * structured cousin of etl_json_fields' path extraction).
    */
  val etlJsonTyped: Q = (s, d) => {
    val propsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType)))
    Tables.events(s, d)
      .withColumn("parsed", from_json(col("props"), propsSchema))
      .select(col("event_id"), col("parsed.k").cast("long").as("k_val"),
        (col("parsed.k") % 10 === 0).as("k_round"))
      .orderBy(col("event_id"))
  }

  /** Daily-rerun upsert: restated records (status P, amounts corrected)
    * replace their snapshot rows, everything else carries forward —
    * the anti-join + union merge the reference effectively performs by
    * re-extracting a day's folder.
    */
  val etlUpsertSnapshot: Q = (s, d) => {
    val snapshot = Tables.orders(s, d)
      .select(col("o_orderkey").as("key"), round(col("o_totalprice"), 2).as("amount"),
        lit("SNAPSHOT").as("src"))
    val restated = Tables.orders(s, d)
      .filter(col("o_orderstatus") === "P")
      .select(col("o_orderkey").as("key"),
        money2(col("o_totalprice") * 1.01).as("amount"),
        lit("RESTATED").as("src"))
    snapshot.join(restated.select(col("key")), Seq("key"), "left_anti")
      .unionAll(restated)
      .orderBy(col("key"))
  }

  /** The complete 16-column master table — the reference's
    * `target_cols` (purchase_confirm_extractor.py:22: 账套编号
    * 基金市场代码 交易市场 日期 业务类别 数量 金额 手续费 佣金 交易对手
    * 资金账户 赎回到账日期 股东账户 席位号 产品名称 基金平台) composed
    * end-to-end: classify → normalize → enrich (broadcast dict) →
    * compute → standardize. One row per order, Hundsun-ready.
    */
  val etlMasterTable: Q = (s, d) => {
    val platforms = Seq("haomai", "tiantian", "lide", "yingmi", "changliang",
      "jiaohang", "wangjin", "pingan")
    val platformCol = element_at(
      typedlit(platforms), (col("o_orderkey") % platforms.size).cast("int") + 1)
    val ledgerDict = Tables.nation(s, d)
      .select(col("n_nationkey").as("dict_key"), col("n_name").as("ledger_id"))
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(ledgerDict), col("c_nationkey") === col("dict_key"), "left")
      .withColumn("nav", lit(1.0) + (col("o_custkey") % 80).cast("double") / 200.0)
      .withColumn("biz_type",
        when(col("o_orderstatus") === "O", "SUB")
          .when(col("o_orderstatus") === "F", "RED").otherwise("DIV"))
      .select(
        coalesce(col("ledger_id"), lit("UNMAPPED")).as("ledger_id"),
        lpad((col("o_custkey") % 1000000).cast("string"), 6, "0").as("fund_code"),
        when(col("o_orderkey") % 2 === 0, "OTC").otherwise("EXCH").as("market"),
        date_format(col("o_orderdate"), "yyyyMMdd").as("trade_date"),
        col("biz_type"),
        money2(col("o_totalprice") / col("nav")).as("shares"),
        round(col("o_totalprice"), 2).as("amount"),
        money2(col("o_totalprice") * 0.0015).as("fee"),
        money2(greatest(col("o_totalprice") * 0.0015 * 0.15, lit(5.0))).as("commission"),
        platformCol.as("counterparty"),
        lpad((col("o_custkey") % 100000).cast("string"), 8, "0").as("cash_account"),
        when(col("biz_type") === "RED",
          date_format(date_add(col("o_orderdate"), 3), "yyyyMMdd")).as("arrival_date"),
        concat(lit("H"), lpad(col("o_custkey").cast("string"), 9, "0")).as("holder_account"),
        lpad((col("o_orderkey") % 1000).cast("string"), 4, "0").as("seat_no"),
        col("c_name").as("product_name"),
        platformCol.as("platform"),
        col("o_orderkey").as("rec_id"))
      .orderBy(col("rec_id"))
  }

  /** MASTER-TABLE XLSX SINK — the reference ships the 16-column master
    * table to the Hundsun valuation system as a formatted Excel
    * workbook (`dividend_extractor.py:1451` `pd.ExcelWriter`; every
    * extractor's 导出 surface). This closes that loop: the day-batch
    * slice of [[etlMasterTable]] (top-200 by rec_id — a statement
    * workbook is a bounded daily artifact, so the driver-side build is
    * a BOUNDED collect by construction) is written through the OOXML
    * writer (sources.XlsxCodec.writeSheet: ZIP + sheet XML +
    * sharedStrings), re-read through the binaryFile-scan + StAX reader
    * path every xlsx ingest uses, and the round-tripped cells returned
    * typed — the Avro.writeNav precedent: the oracle recomputes the
    * slice from the master SQL, so a writer or reader defect anywhere
    * in the loop hash-fails. Money rides as e2 integer cents
    * (floor(x*100+0.5), the money2 convention) because floats through
    * text are not engine-stable. At 100 TB the same writeSheet call
    * runs per day-batch partition inside foreachPartition; the bounded
    * slice keeps this artifact deterministic.
    */
  val etlMasterXlsx: Q = (s, d) => {
    val header = Seq("rec_id", "ledger_id", "fund_code", "market",
      "trade_date", "biz_type", "shares_e2", "amount_e2", "fee_e2",
      "commission_e2", "counterparty", "cash_account", "arrival_date",
      "holder_account", "seat_no", "product_name", "platform")
    def e2(c: String) = floor(col(c) * 100 + 0.5).cast("long").cast("string").as(c + "_e2")
    val cells = etlMasterTable(s, d)
      .orderBy(col("rec_id")).limit(200)
      .select(col("rec_id").cast("string"), col("ledger_id"),
        col("fund_code"), col("market"), col("trade_date"), col("biz_type"),
        e2("shares"), e2("amount"), e2("fee"), e2("commission"),
        col("counterparty"), col("cash_account"),
        coalesce(col("arrival_date"), lit("")).as("arrival_date"),
        col("holder_account"), col("seat_no"), col("product_name"),
        col("platform"))
      .collect()
      .map(_.toSeq.map(_.asInstanceOf[String]))
    val dir = java.nio.file.Files.createTempDirectory("graft_master_xlsx")
    java.nio.file.Files.write(dir.resolve("master.xlsx"),
      graft.sources.XlsxCodec.writeSheet(header +: cells.toSeq))
    val typed = header.zipWithIndex.map { case (name, i) =>
      val c = element_at(col("cells"), i + 1)
      if (name == "rec_id" || name.endsWith("_e2")) c.cast("long").as(name)
      else c.as(name)
    }
    graft.sources.Xlsx.rows(s, dir.toString)
      .filter(col("row_num") >= 1) // skip the header row
      .select(typed: _*)
      .orderBy(col("rec_id"))
  }

  /** Cross-source reconciliation via the typed cogroup API — platform
    * statements (events) against the internal ledger (orders), one
    * output row per reconciliation key including keys present on only
    * one side, with a match verdict. The fund-ops closing check.
    */
  val etlReconcile: Q = (s, d) => {
    import s.implicits._
    val ledger = Tables.orders(s, d)
      .select((col("o_custkey") % 100).as("rk"), col("o_totalprice"))
      .as[(Long, Double)]
    val statements = Tables.events(s, d)
      .select(col("user_id").as("rk"), col("value"))
      .as[(Long, Double)]
    ledger.groupByKey(_._1).cogroup(statements.groupByKey(_._1)) {
      (key, ord, evs) =>
        var nOrd = 0L; var sumOrd = 0.0
        ord.foreach { o => nOrd += 1; sumOrd += o._2 }
        var nEv = 0L; var sumEv = 0.0
        evs.foreach { e => nEv += 1; sumEv += e._2 }
        val verdict =
          if (nOrd == 0) "STATEMENT_ONLY"
          else if (nEv == 0) "LEDGER_ONLY"
          else "MATCHED"
        Iterator((key, nOrd, math.floor(sumOrd * 100 + 0.5) / 100, nEv,
          math.floor(sumEv * 100 + 0.5) / 100, verdict))
    }.toDF("rk", "n_ledger", "ledger_total", "n_statements", "statement_total", "verdict")
      .orderBy(col("rk"))
  }

  /** SCD type-2 dimension merge — the warehouse-grade version of the
    * reference's product-code dictionary maintenance
    * (ui/product_code_manager.py edits the name→ledger dict in place;
    * at scale the dict is a versioned dimension). An update batch
    * closes the prior version (valid_to set, is_current=false) and
    * opens a new effective-dated one; untouched keys pass through.
    * Update keys reach the current side as a broadcast semi/anti join.
    */
  val etlScd2: Q = (s, d) => {
    val cur = Tables.customer(s, d)
      .select(col("c_custkey").as("custkey"),
        col("c_mktsegment").as("segment"),
        money2(col("c_acctbal")).as("balance"))
    val upd = cur.filter(col("custkey") % 7 === 0)
      .select(col("custkey"), col("segment"),
        money2(col("balance") * 1.1).as("balance"))
    val updKeys = upd.select(col("custkey"))
    val closed = cur.join(broadcast(updKeys), Seq("custkey"), "left_semi")
      .withColumn("valid_from", lit("1995-01-01"))
      .withColumn("valid_to", lit("1996-06-01"))
      .withColumn("is_current", lit(false))
    val fresh = upd
      .withColumn("valid_from", lit("1996-06-01"))
      .withColumn("valid_to", lit("9999-12-31"))
      .withColumn("is_current", lit(true))
    val untouched = cur.join(broadcast(updKeys), Seq("custkey"), "left_anti")
      .withColumn("valid_from", lit("1995-01-01"))
      .withColumn("valid_to", lit("9999-12-31"))
      .withColumn("is_current", lit(true))
    closed.unionByName(fresh).unionByName(untouched)
      .orderBy(col("custkey"), col("valid_from"))
  }

  /** The dict-maintenance ops batch for [[etlDictMaintain]] — a
    * literal (the platformRules/productLedger precedent: one Scala
    * Seq renders both the Spark frame and the oracle's VALUES), with
    * every validation branch of the reference UI covered at least
    * once. Empty strings mean "absent" (the reference's
    * `if not pname: return` falsiness checks). AT MOST ONE APPLIED op
    * per product name, so the batch is order-independent by
    * construction and validation runs against the PRE-batch dict (the
    * etl_cdc_apply batch contract — op 6's rename-conflict against
    * 货币增值宝B is judged before op 9 deletes it).
    */
  private[graft] val dictOps: Seq[(Int, String, String, String, String)] = Seq(
    (1, "add", "新兴产业灵活配置", "", "L005"), // new name → applied
    (2, "add", "安鑫回报混合A", "", "L009"), // name exists → rejected (:172-174)
    (3, "add", "", "", "L010"), // empty name → rejected (:159-161)
    (4, "add", "价值精选混合C", "", ""), // empty code → rejected (:162-164)
    (5, "edit", "稳健增利债券C", "稳健增利二号", "L012"), // rename, target free → applied
    (6, "edit", "创新成长股票", "货币增值宝B", "L013"), // rename onto existing → rejected (:199-201)
    (7, "edit", "未知产品X", "未知产品Y", "L014"), // name not in dict → rejected (no selection, :181-183)
    (8, "edit", "安鑫回报混合A", "安鑫回报混合A", "L015"), // same-name code update → applied (:199 passes)
    (9, "delete", "货币增值宝B", "", ""), // exists → applied (:206-214)
    (10, "delete", "不存在产品", "", "")) // not in dict → rejected

  /** DICT MAINTENANCE — the reference's product-code-manager semantics
    * (ui/product_code_manager.py:158-221: add rejected on empty
    * name/code or existing name; edit rejected on missing entry,
    * empty fields, or rename onto an existing other name; delete
    * rejected on missing entry) re-expressed as a BATCH CDC apply
    * over the product dict: one pass validates every op against the
    * pre-batch dict (two broadcast lookups — name and rename-target),
    * applied ops fold into the post-state. Output is the full
    * provenance picture in one frame: kind='op' rows audit every op
    * with its status; kind='state' rows are the post-batch dict with
    * per-entry provenance (kept/updated/renamed/added). Closes the
    * last reference file with executable semantics (the UI shell
    * around it is out of scope for an engine).
    */
  val etlDictMaintain: Q = (s, _) => {
    import s.implicits._
    val dict = productLedger.toDF("name", "code")
    val ops = dictOps.toDF("seq", "action", "name", "new_name", "new_code")
    val byName = dict.select(col("name"), col("code").as("old_code"))
    val byTarget = dict.select(col("name").as("new_name"), lit(true).as("tgt"))
    val audit = ops
      .join(broadcast(byName), Seq("name"), "left")
      .join(broadcast(byTarget), Seq("new_name"), "left")
      .withColumn("status",
        when(col("action") === "add" &&
          (col("name") === "" || col("new_code") === ""), "rejected_empty")
        .when(col("action") === "add" && col("old_code").isNotNull, "rejected_exists")
        .when(col("action") === "add", "applied")
        .when(col("action") === "edit" && col("old_code").isNull, "rejected_missing")
        .when(col("action") === "edit" &&
          (col("new_name") === "" || col("new_code") === ""), "rejected_empty")
        .when(col("action") === "edit" && col("new_name") =!= col("name") &&
          coalesce(col("tgt"), lit(false)), "rejected_conflict")
        .when(col("action") === "edit", "applied")
        .when(col("action") === "delete" && col("old_code").isNull, "rejected_missing")
        .otherwise("applied"))
      .select(col("seq"), col("action"), col("name"), col("new_name"),
        col("new_code"), col("status"))
    val applied = audit.filter(col("status") === "applied")
    // names an applied edit or delete removes from the pre-state (a
    // same-name edit removes and re-adds, landing as 'updated')
    val removed = applied.filter(col("action").isin("edit", "delete"))
      .select(col("name"))
    val kept = dict.join(broadcast(removed), Seq("name"), "left_anti")
      .select(col("name"), col("code"), lit("kept").as("status"))
    val edited = applied.filter(col("action") === "edit")
      .select(col("new_name").as("name"), col("new_code").as("code"),
        when(col("new_name") === col("name"), "updated")
          .otherwise("renamed").as("status"))
    val added = applied.filter(col("action") === "add")
      .select(col("name"), col("new_code").as("code"), lit("added").as("status"))
    val opRows = audit.select(lit("op").as("kind"), col("seq").cast("long").as("seq"),
      col("action"), col("name"), col("new_name"), col("new_code").as("code"),
      col("status"))
    val stateRows = kept.unionByName(edited).unionByName(added)
      .select(lit("state").as("kind"), lit(-1L).as("seq"), lit("").as("action"),
        col("name"), lit("").as("new_name"), col("code"), col("status"))
    opRows.unionByName(stateRows)
      .orderBy(col("kind"), col("seq"), col("name"))
  }

  /** VARIANT-typed semi-structured path — parse_json once into the
    * binary columnar VARIANT encoding, shred typed fields out with
    * variant_get. Same semantics as the string get_json_object op
    * (etl_json_fields) but the at-scale shape: one parse, typed
    * columnar access after.
    */
  val etlVariantShred: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("v", parse_json(col("props")))
      .select(col("event_type"),
        expr("variant_get(v, '$.k', 'int')").as("k_val"),
        col("value"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k_val").cast("long")).as("k_total"),
        floor(avg(col("value")) * 10000 + 0.5).cast("long").as("avg_value_e4"))
      .orderBy(col("event_type"))

  /** END-TO-END file ingestion — the reference's actual front door:
    * walk dated folders of platform statement files, classify each by
    * content signature + filename keyword, regex-extract the fields,
    * normalize numbers/dates, enrich via the product dict, flag
    * failures (`purchase_confirm_extractor.py:1417-1639` in one
    * operator). Spark-first shape: a binaryFile scan (at 100 TB this
    * is the distributed object-store listing + read), a broadcast
    * nested-loop join against the tiny RULE RELATION (platformRules —
    * adding a platform is adding a row), and codegen'd regex/label
    * extraction where the per-platform field labels come from the rule
    * row, not from code. Defect files surface with valid=false instead
    * of being dropped — the reference's failed-file tracking.
    */
  val etlIngestFiles: Q = (s, _) => ingestFrom(s, statementsDir)

  /** The ingest pipeline over any statement directory — etlIngestFiles
    * binds it to the committed corpus; scale measurements point it at
    * a generated multi-thousand-file tree.
    */
  private[graft] def ingestFrom(s: SparkSession, dir: String): DataFrame =
    extractStatementFields(s, classify(s, confirmWalk, loadStatements(s, dir)))
      .orderBy(col("file_name"))

  /** binaryFile scan of dated statement folders → (path, content,
    * file_name, batch_date). At 100 TB this is the distributed
    * object-store listing + read; nothing downstream is per-file.
    */
  private[graft] def loadStatements(s: SparkSession, glob: String,
      dirs: String*): DataFrame =
    graft.sources.BinaryFiles.scan(s, glob, dirs: _*)
      .select(col("path"), col("content").cast("string").as("content"),
        col("file_name"), col("batch_date"))

  private[graft] def loadStatements(s: SparkSession, dir: String): DataFrame =
    loadStatements(s, "*.txt", dir)

  /** lines[lo:hi] of the content column as ONE string. First-N is
    * substring_index (text up to the hi'th newline — the whole string
    * when there are fewer lines, same as Python's lines[:hi]); after-N
    * is the suffix past the lo'th newline (empty when there are ≤ lo
    * lines, same as lines[lo:]); composing gives two-sided ranges.
    * Signature patterns never contain '\n', so containment over the
    * joined block ≡ containment in any single line of the range — and
    * both building blocks are plain codegen'd string expressions.
    */
  private def scopedContent(lo: Int, hi: Int): org.apache.spark.sql.Column = {
    var c = col("content")
    if (hi >= 0) c = substring_index(c, "\n", hi)
    if (lo > 0) c = c.substr(
      length(substring_index(c, "\n", lo)) + lit(2), lit(Int.MaxValue))
    c
  }

  private def litCol(l: SigLit): org.apache.spark.sql.Column = {
    val base = if (l.src == 'f') col("file_name") else scopedContent(l.lo, l.hi)
    val p = base.contains(lit(l.pattern))
    if (l.neg) !p else p
  }

  /** A walk's (value, DNF) arms COMPILED into one first-match-wins
    * when-chain, else `default` — the rule relation is tiny and static
    * per run, so the scalable plan is rules-as-data driving a generated
    * map-only expression: no join, no shuffle, the classification stays
    * inside WholeStageCodegen at any corpus size. (The previous rules-JOIN
    * shape cost a row_number window — a full shuffle on file_name —
    * per ingest; the compiled chain costs zero exchanges.)
    */
  private def chain(arms: Seq[(String, Seq[Seq[SigLit]])],
      default: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def pred(cl: Seq[Seq[SigLit]]) =
      cl.map(_.map(litCol).reduce(_ && _)).reduce(_ || _)
    arms.tail
      .foldLeft(when(pred(arms.head._2), arms.head._1)) {
        (acc, r) => acc.when(pred(r._2), r._1)
      }
      .otherwise(default)
  }

  /** The walk's filename routing compiled the same way — exclusion
    * rows first, keep-only-if conjuncts as extra filename literals,
    * the walk's default class last. */
  private[graft] def routeCol(w: Walk): org.apache.spark.sql.Column =
    chain(w.routeArms, lit(w.routeDefault))

  /** The walk's label relation: one row per platform, "" → NULL. */
  private[graft] def labelFrame(s: SparkSession, w: Walk): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(StructField("platform", StringType) +:
      w.labels.map { case (name, vs) => vs.head match {
        case _: Boolean => StructField(name, BooleanType, nullable = false)
        case _ => StructField(name, StringType)
      }})
    val rows = w.labelRows.map(r => Row.fromSeq(r.map { case "" => null; case v => v }))
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private def dictFrame(s: SparkSession, w: Walk): DataFrame = {
    import s.implicits._
    w.dict.toDF("p_name", w.dictValue)
  }

  /** Signature classification for any walk: the compiled matrix
    * predicate assigns the platform; the per-platform labels and modes
    * (the reference's per-platform regex variance,
    * `purchase_confirm_extractor.py:34-1365`) arrive by broadcast
    * equi-join against the walk's label relation. Keeps every input
    * column (routing flags ride through to extraction). UNKNOWN files
    * keep NULL labels — extraction falls back to the generic defaults.
    */
  private[graft] def classify(s: SparkSession, w: Walk, files: DataFrame): DataFrame =
    files.withColumn("platform", chain(w.platformArms, lit(null).cast("string")))
      .join(broadcast(labelFrame(s, w)), Seq("platform"), "left")

  /** [[classify]] over the walk's committed corpus. */
  private[graft] def classify(s: SparkSession, w: Walk): DataFrame =
    classify(s, w, loadStatements(s, w.dir))

  /** The map-only tail of the ingest pipeline (filename routing, field
    * extraction, normalization, dict enrich, validity flag) — shared
    * by the batch operator above and the STREAMING ingest
    * (graft.streaming.EventStreams.statementStream): every step here
    * is stateless, so the same code runs per micro-batch unchanged.
    * Input must already carry (content, file_name, batch_date,
    * platform, and the six per-platform label columns from
    * [[classify]] over [[confirmWalk]]). Every label regex coalesces to the
    * generic default so UNKNOWN-platform files still best-effort
    * extract (the reference's failed-file rows keep whatever fields
    * its generic regexes find).
    */
  private[graft] def extractStatementFields(s: SparkSession, classified: DataFrame,
      extra: Seq[String] = Nil): DataFrame = {
    classified
      .withColumn("biz_type", routeCol(confirmWalk))
      .withColumn("fund_code", expr(
        "nullif(regexp_extract(content, concat(coalesce(code_label, '基金代码'), '：([0-9]{6})'), 1), '')"))
      .withColumn("product_name", expr(
        "nullif(regexp_extract(content, concat(coalesce(name_label, '产品名称'), '：(.+)'), 1), '')"))
      .withColumn("amount", expr(
        "cast(replace(nullif(regexp_extract(content, concat(coalesce(amount_label, '确认金额'), '：([0-9,]+[.][0-9]+)'), 1), ''), ',', '') as double)"))
      .withColumn("shares", expr(
        "cast(replace(nullif(regexp_extract(content, concat(coalesce(shares_label, '确认份额'), '：([0-9,]+[.][0-9]+)'), 1), ''), ',', '') as double)"))
      .withColumn("fee", expr(
        "cast(replace(nullif(regexp_extract(content, concat(coalesce(fee_label, '手续费'), '：([0-9,]+[.][0-9]+)'), 1), ''), ',', '') as double)"))
      .withColumn("trade_date",
        regexp_replace(nullif(expr(
          "regexp_extract(content, concat(coalesce(date_label, '确认日期'), '：(.+)'), 1)"), lit("")),
          "[^0-9]", ""))
      .join(broadcast(dictFrame(s, confirmWalk)), col("product_name") === col("p_name"), "left")
      .select(Seq(col("file_name"), col("batch_date"),
        coalesce(col("platform"), lit("UNKNOWN")).as("platform"),
        col("biz_type"), col("fund_code"), col("product_name"),
        coalesce(col("ledger_id"), lit("UNMAPPED")).as("ledger_id"),
        col("amount"), col("shares"), col("fee"), col("trade_date"),
        (col("fund_code").isNotNull && col("platform").isNotNull).as("valid"))
        ++ extra.map(col): _*)
  }

  private[graft] val statementsScanDir = corpusDir("statements_scan")
  private[graft] val statementsPdfDir = corpusDir("statements_pdf")

  /** OCR-FALLBACK ROUTING — the reference routes scanned PDFs through
    * EasyOCR when text extraction yields nothing
    * (`manual_dividen_extractor.py:74-96`: pdfplumber text empty →
    * image → OCR). Same control flow here: a TEXT-CONFIDENCE GATE over
    * the extracted text layer (a usable statement layer always carries
    * the full-width label colon; a scanned image's text layer has
    * none) routes low-confidence files through the stub OCR decoder —
    * deterministic unhex of the scan payload, standing in for the OCR
    * engine the environment doesn't have — and unions both branches
    * back into the SAME classify → extract → enrich chain as
    * etl_ingest_files. The route is one map-only projection: no
    * per-branch scan, no per-branch pipeline copy; `ocr_used` rides
    * through to the output for run accounting.
    */
  val etlOcrRoute: Q = (s, _) => {
    val routed = ocrRouted(loadStatements(s, "*.txt", statementsDir, statementsScanDir))
    extractStatementFields(s, classify(s, confirmWalk, routed), extra = Seq("ocr_used"))
      .orderBy(col("file_name"))
  }

  /** The OCR gate + stub decode as ONE shared projection — etl_ocr_route
    * and etl_e2e route through the same expressions (and their oracles
    * through the same SQL snippet), so a gate fix can never reach one
    * pipeline and miss the other. The gate keys on the scanner's OWN
    * header (the generator stamps every scanned page SCANNED_IMAGE_V1)
    * rather than a heuristic over the text layer — a legitimate plain
    * statement that happens to lack the full-width label colon must
    * NOT be silently unhex'd into null content. decode_rank orders
    * canonical-row selection downstream: an undecoded original (0)
    * beats an OCR decode (1) beats a container decode (2).
    */
  private[graft] def ocrRouted(files: DataFrame): DataFrame = files
    .withColumn("ocr_used", col("content").startsWith("SCANNED_IMAGE_V1"))
    .withColumn("content",
      when(col("ocr_used"),
        unhex(element_at(split(col("content"), "\n"), 2)).cast("string"))
        .otherwise(col("content")))
    .withColumn("decode_rank", when(col("ocr_used"), 1).otherwise(0))

  /** Container validate + text-stream extract, shared by etl_pdf_decode
    * and etl_e2e the same way [[ocrRouted]] is.
    */
  private[graft] def containerDecoded(files: DataFrame): DataFrame = files
    .withColumnRenamed("content", "raw")
    .withColumn("container_ok", col("raw").startsWith("%GPDF-1.0"))
    .withColumn("content",
      when(col("container_ok"),
        regexp_extract(col("raw"), "(?s)stream\n(.*)\nendstream", 1))
        .otherwise(lit("")))
    .withColumn("decode_rank", lit(2))
    .drop("raw")

  /** PDF-SHAPED BINARY CONTAINER DECODE — the reference's native input
    * is PDF (`conversion_extractor.py:253` pdfplumber.open). The
    * corpus variant under data/statements_pdf wraps each statement in
    * a minimal container (magic header, object header, text between
    * stream/endstream markers, trailer); this stage validates the
    * magic, extracts the embedded text stream (one codegen'd dotall
    * regex — the stub codec, in the mm_decode_meta style: declared
    * stub, real plumbing), and feeds the SAME rules-join + extraction
    * chain. A corrupt container surfaces as container_ok=false /
    * valid=false instead of failing the scan — the reference's
    * failed-file tracking for unparseable PDFs.
    */
  val etlPdfDecode: Q = (s, _) => {
    val files = containerDecoded(loadStatements(s, "*.gpdf", statementsPdfDir))
    extractStatementFields(s, classify(s, confirmWalk, files), extra = Seq("container_ok"))
      .orderBy(col("file_name"))
  }

  private[graft] val statementsRealDir = corpusDir("statements_real")

  /** REAL PDF ingest — etl_pdf_decode's stub codec replaced with the
    * actual format (`conversion_extractor.py:253` pdfplumber.open):
    * the committed corpus under data/statements_real is true minimal
    * PDF 1.4 (xref table, catalog/page objects, FlateDecode and
    * uncompressed content streams, literal/hex/TJ string forms) and
    * [[graft.functions.PdfCodec]] decodes the text layer JDK-only —
    * xref-free stream scan, `java.util.zip.Inflater`, Tj/TJ/'/" —
    * inside whole-stage codegen, then feeds the SAME classify →
    * extract → enrich chain as every other front door. Failure
    * tracking mirrors the reference's per-file failed-PDF list: bad
    * magic → pdf_ok=false, a corrupted Flate payload decodes to ""
    * and falls out as valid=false. The decoded text rides through to
    * the output, so the oracle (which reads the SIDECAR expected-text
    * table the corpus generator derived from the source statements,
    * never from this codec) pins the decode BYTE-EXACTLY, not just
    * the fields extracted from it.
    */
  val etlPdfText: Q = (s, _) => {
    val files = graft.sources.BinaryFiles.scan(s, "*.pdf", statementsRealDir)
      .withColumn("text", graft.functions.PdfFunctions.pdfText(col("content")))
      .withColumn("pdf_ok", col("text").isNotNull)
      .withColumn("content", coalesce(col("text"), lit("")))
      .drop("text", "path")
    extractStatementFields(s, classify(s, confirmWalk, files),
      extra = Seq("pdf_ok", "content"))
      .orderBy(col("file_name"))
  }

  private[graft] val statementsXlsxDir = corpusDir("statements_xlsx")

  /** XLSX statement ingest — the reference's Excel surface
    * (`dividend_extractor.py:1451` `pd.ExcelWriter`, and the workbook
    * read paths) without the env-blocked spark-excel jar:
    * [[graft.sources.XlsxCodec]] reads the OOXML parts JDK-only
    * (ZIP + StAX sharedStrings/sheet1), the committed corpus under
    * data/statements_xlsx was written by an INDEPENDENT generator
    * (tools/gen_xlsx.py — no shared code with the reader), and the
    * first-column text view feeds the same classify → extract →
    * enrich chain as every other front door. A non-workbook file
    * surfaces as xlsx_ok=false / valid=false, one row, never a thrown
    * scan. The oracle reads the source-derived sidecar, pinning the
    * decode byte-exactly like etl_pdf_text.
    */
  val etlXlsxIngest: Q = (s, _) => {
    val files = graft.sources.Xlsx.text(s, statementsXlsxDir)
      .withColumn("xlsx_ok", col("content").isNotNull)
      .withColumn("content", coalesce(col("content"), lit("")))
    extractStatementFields(s, classify(s, confirmWalk, files),
      extra = Seq("xlsx_ok", "content"))
      .orderBy(col("file_name"))
  }

  /** MULTI-RECORD statement extraction — the reference's yingmi and
    * liantai extractors return LISTS, one tuple per 交易序号 /
    * 交易信息 block (`purchase_confirm_extractor.py:173-271` /
    * `:660-726`: find the record-start lines, extract each block's
    * fields with a bounded lookahead, keep records with a fund code
    * and an amount-or-shares, `:252-256`). Spark-first shape: the
    * record marker is rule DATA (PlatformRule.recMarker — adding a
    * multi-record platform is editing its row), one posexplode over
    * the marker-split content gives (rec_no, segment), each segment
    * extracts with the platform's label regexes, and the reference's
    * record-validity rule filters — map-only over the scan, zero
    * exchanges before the presentation sort. Single-record platforms
    * carry a NULL marker and contribute nothing; a single-marker file
    * legitimately yields one record.
    */
  val etlMultiRecord: Q = (s, _) => {
    classify(s, confirmWalk)
      .filter(col("rec_marker").isNotNull)
      .withColumn("product_name", expr(
        "nullif(regexp_extract(content, concat(coalesce(name_label, '产品名称'), '：(.+)'), 1), '')"))
      .select(col("file_name"), col("platform"), col("product_name"),
        col("code_label"), col("amount_label"), col("shares_label"),
        col("fee_label"),
        posexplode(expr("split(content, rec_marker)")).as(Seq("rec_no", "seg")))
      .filter(col("rec_no") >= 1)
      .withColumn("fund_code", expr(
        "nullif(regexp_extract(seg, concat(code_label, '：([0-9]{6})'), 1), '')"))
      .withColumn("amount", expr(
        "cast(replace(nullif(regexp_extract(seg, concat(amount_label, '：([0-9,]+[.][0-9]+)'), 1), ''), ',', '') as double)"))
      .withColumn("shares", expr(
        "cast(replace(nullif(regexp_extract(seg, concat(shares_label, '：([0-9,]+[.][0-9]+)'), 1), ''), ',', '') as double)"))
      .withColumn("fee", expr(
        "cast(replace(nullif(regexp_extract(seg, concat(fee_label, '：([0-9,]+[.][0-9]+)'), 1), ''), ',', '') as double)"))
      // the reference's record-validity rule (:252-256)
      .filter(col("fund_code").isNotNull &&
        (col("amount").isNotNull || col("shares").isNotNull))
      .select(col("file_name"), col("platform"),
        col("rec_no").cast("long").as("rec_no"), col("product_name"),
        col("fund_code"), col("amount"), col("shares"), col("fee"))
      .orderBy(col("file_name"), col("rec_no"))
  }

  /** The five redemption date modes compiled into ONE expression over
    * the given text column — the mode is rule data, so the whole CASE
    * stays a codegen'd map-only projection. tplus composes the T+n
    * arithmetic with the direct-date alternate exactly like the
    * reference (`redemption_extractor.py:663-686`); the final
    * coalesce applies the per-platform run-date-vs-empty fallback.
    */
  private def redeemDateExpr(src: String): org.apache.spark.sql.Column = {
    val hyphen = s"replace(nullif(regexp_extract($src, concat(date_label, '：([0-9]{4}-[0-9]{2}-[0-9]{2})'), 1), ''), '-', '')"
    val plain8 = s"nullif(regexp_extract($src, concat(date_label, '：([0-9]{8})'), 1), '')"
    val nextline = s"nullif(regexp_extract($src, concat(date_label, '[^\\n]*\\n([0-9]{8})'), 1), '')"
    val tplusN = s"nullif(regexp_extract($src, concat(date_label, '：T[+]([0-9]+)'), 1), '')"
    expr(s"""coalesce(CASE date_mode
      WHEN 'hyphen' THEN $hyphen
      WHEN 'plain8' THEN $plain8
      WHEN 'nextline' THEN $nextline
      WHEN 'tplus' THEN coalesce(
        date_format(date_add(to_date(batch_date, 'yyyyMMdd'), CAST($tplusN AS INT) - 1), 'yyyyMMdd'),
        $hyphen)
      END, IF(date_fb, batch_date, CAST(NULL AS STRING)))""")
  }

  /** REDEMPTION-STATEMENT ingest — the reference's second front door
    * (`redemption_extractor.py:1165-1339` in one operator): walk the
    * dated redemption folders, apply the walk-level exclusion algebra
    * (强行调/调增/分红方式 out; 申购 out unless 江苏银行/融联创 —
    * the mirror of the confirm chain's 赎回 exception), classify by
    * the redemption signature chain, extract with the per-platform
    * labels/date modes/fee defaults, scope jd super-conversion files
    * to their 强行赎回确认 section, enrich via the product dict, and
    * emit the reference's redemption master constants (交易市场=
    * 国内银行间, 业务类别=基金赎回确认, `:1303-1317`). Same 100 TB
    * shape as etl_ingest_files: binaryFile scan, compiled map-only
    * when-chain classification (zero exchanges), one broadcast label
    * join, one broadcast dict join, codegen'd regex extraction.
    * Excluded files surface as EXCL_* rows, never silently dropped.
    */
  val etlRedeemIngest: Q = (s, _) => {
    classify(s, redeemWalk)
      .withColumn("biz_type", routeCol(redeemWalk))
      .withColumn("xcontent", expr(
        """CASE WHEN section_marker IS NULL THEN content
          |     WHEN instr(content, section_marker) > 0
          |       THEN substring(content, instr(content, section_marker))
          |     ELSE '' END""".stripMargin))
      .withColumn("fund_code", expr(
        "nullif(regexp_extract(xcontent, concat(coalesce(code_label, '基金代码'), '：([0-9]{6})'), 1), '')"))
      .withColumn("product_name", expr(
        "nullif(regexp_extract(xcontent, concat(coalesce(name_label, '产品名称'), '：(.+)'), 1), '')"))
      .withColumn("amount", expr(
        "cast(replace(nullif(regexp_extract(xcontent, concat(coalesce(amount_label, '确认金额'), '：([0-9,]+[.][0-9]+)'), 1), ''), ',', '') as double)"))
      .withColumn("shares", expr(
        "cast(replace(nullif(regexp_extract(xcontent, concat(coalesce(shares_label, '确认份额'), '：([0-9,]+[.][0-9]+)'), 1), ''), ',', '') as double)"))
      .withColumn("fee", coalesce(expr(
        "cast(replace(nullif(regexp_extract(xcontent, concat(coalesce(fee_label, '手续费'), '：([0-9,]+[.][0-9]+)'), 1), ''), ',', '') as double)"),
        when(col("fee_def"), lit(0.0))))
      .withColumn("arrival_date", redeemDateExpr("xcontent"))
      .join(broadcast(dictFrame(s, redeemWalk)), col("product_name") === col("p_name"), "left")
      .select(col("file_name"), col("batch_date"),
        coalesce(col("platform"), lit("UNKNOWN")).as("platform"),
        col("biz_type"), col("fund_code"), col("product_name"),
        coalesce(col("ledger_id"), lit("UNMAPPED")).as("ledger_id"),
        col("amount"), col("shares"), col("fee"), col("arrival_date"),
        lit("国内银行间").as("trade_market"),
        lit("基金赎回确认").as("biz_class"),
        (col("fund_code").isNotNull && col("platform").isNotNull).as("valid"))
      .orderBy(col("file_name"))
  }

  /** MULTI-RECORD redemption extraction — yingmi / liantai / tengyuan
    * redemption statements carry record LISTS with three DIFFERENT
    * validity rules (`redemption_extractor.py:296-300` code∧(amount∨
    * shares), `:919-920` code∧amount, `:833` code) and per-record
    * dates — marker, validity and date mode are all columns of the
    * rule row, so the one posexplode + label extraction pipeline
    * serves all three. Same shape as etl_multi_record: map-only,
    * zero exchanges before the presentation sort.
    */
  val etlRedeemMulti: Q = (s, _) => {
    classify(s, redeemWalk)
      .filter(col("rec_marker").isNotNull)
      .withColumn("product_name", expr(
        "nullif(regexp_extract(content, concat(name_label, '：(.+)'), 1), '')"))
      .select(col("file_name"), col("batch_date"), col("platform"),
        col("product_name"), col("code_label"), col("amount_label"),
        col("shares_label"), col("fee_label"), col("date_label"),
        col("date_mode"), col("date_fb"), col("fee_def"),
        col("rec_validity"),
        posexplode(expr("split(content, rec_marker)")).as(Seq("rec_no", "seg")))
      .filter(col("rec_no") >= 1)
      .withColumn("fund_code", expr(
        "nullif(regexp_extract(seg, concat(code_label, '：([0-9]{6})'), 1), '')"))
      .withColumn("amount", expr(
        "cast(replace(nullif(regexp_extract(seg, concat(amount_label, '：([0-9,]+[.][0-9]+)'), 1), ''), ',', '') as double)"))
      .withColumn("shares", expr(
        "cast(replace(nullif(regexp_extract(seg, concat(shares_label, '：([0-9,]+[.][0-9]+)'), 1), ''), ',', '') as double)"))
      .withColumn("fee", coalesce(expr(
        "cast(replace(nullif(regexp_extract(seg, concat(fee_label, '：([0-9,]+[.][0-9]+)'), 1), ''), ',', '') as double)"),
        when(col("fee_def"), lit(0.0))))
      .withColumn("arrival_date", redeemDateExpr("seg"))
      // the per-platform record-validity rule, applied as data
      .filter(expr("""CASE rec_validity
        WHEN 'code_any' THEN fund_code IS NOT NULL AND (amount IS NOT NULL OR shares IS NOT NULL)
        WHEN 'code_amount' THEN fund_code IS NOT NULL AND amount IS NOT NULL
        ELSE fund_code IS NOT NULL END"""))
      .select(col("file_name"), col("platform"),
        col("rec_no").cast("long").as("rec_no"), col("product_name"),
        col("fund_code"), col("amount"), col("shares"), col("fee"),
        col("arrival_date"))
      .orderBy(col("file_name"), col("rec_no"))
  }

  /** The zdt POSITIONAL summary-table row shapes
    * (`redemption_extractor.py:1103-1130`): the reference parses two
    * row layouts — COMPACT, where the PDF linebreak ate the fund name
    * and the account is directly followed by the 6-digit code, and
    * STANDARD with the name between — and tries compact FIRST (a
    * standard parse can mis-bind a compact row by splitting its
    * account digits, so priority is load-bearing; both engines pin
    * it). Groups: seq, account, [name,] code, 赎回份额 (skipped, as
    * the reference does), 确认份额, 确认金额, 手续费.
    */
  private[graft] val zdtCompactRe =
    "^ *([0-9]+) +([0-9]{10,}) +([0-9]{6}) +[0-9,]+[.][0-9]+ +([0-9,]+[.][0-9]+) +([0-9,]+[.][0-9]+) +([0-9,]+[.][0-9]+)"
  private[graft] val zdtStandardRe =
    "^ *([0-9]+) +([0-9]{10,}) +(.+) +([0-9]{6}) +[0-9,]+[.][0-9]+ +([0-9,]+[.][0-9]+) +([0-9,]+[.][0-9]+) +([0-9,]+[.][0-9]+)"

  /** POSITIONAL-ROW redemption extraction — the zdt summary table: no
    * field labels at all, one row per line, the dual compact/standard
    * regex as rule constants. One posexplode over lines + codegen'd
    * regex projection; non-row lines (headers, the name line) simply
    * don't match. est_date is the run date (`:1152`).
    */
  val etlRedeemRows: Q = (s, _) => {
    def g(re: String, i: Int) = expr(s"regexp_extract(line, '$re', $i)")
    def num(c: org.apache.spark.sql.Column) =
      regexp_replace(c, ",", "").cast("double")
    classify(s, redeemWalk)
      .filter(col("platform") === "zhengdatong")
      .withColumn("product_name", expr(
        "nullif(regexp_extract(content, concat(name_label, '：(.+)'), 1), '')"))
      .select(col("file_name"), col("batch_date"), col("product_name"),
        posexplode(split(col("content"), "\n")).as(Seq("row_no", "line")))
      .withColumn("is_compact", expr(s"line rlike '$zdtCompactRe'"))
      .withColumn("is_standard", expr(s"line rlike '$zdtStandardRe'"))
      .filter(col("is_compact") || col("is_standard"))
      .select(col("file_name"), col("row_no").cast("long").as("row_no"),
        when(col("is_compact"), "compact").otherwise("standard").as("row_fmt"),
        when(col("is_compact"), g(zdtCompactRe, 1))
          .otherwise(g(zdtStandardRe, 1)).cast("long").as("seq"),
        when(col("is_compact"), g(zdtCompactRe, 2))
          .otherwise(g(zdtStandardRe, 2)).as("account"),
        col("product_name"),
        when(col("is_compact"), g(zdtCompactRe, 3))
          .otherwise(g(zdtStandardRe, 4)).as("fund_code"),
        num(when(col("is_compact"), g(zdtCompactRe, 4))
          .otherwise(g(zdtStandardRe, 5))).as("shares"),
        num(when(col("is_compact"), g(zdtCompactRe, 5))
          .otherwise(g(zdtStandardRe, 6))).as("amount"),
        num(when(col("is_compact"), g(zdtCompactRe, 6))
          .otherwise(g(zdtStandardRe, 7))).as("fee"),
        col("batch_date").as("arrival_date"))
      .orderBy(col("file_name"), col("row_no"))
  }

  /** DIVIDEND-STATEMENT ingest — the reference's third front door
    * (`dividend_extractor.py:1264-1443`) re-expressed on the compiled
    * chain: classify by the dividend signature set, extract the
    * per-platform dividend cash/reinvest-shares pair with the coupled
    * and next-line modes as data, compute 红利截止日期 (确认日期 - 1
    * for jiaohang, run date - 1 otherwise), enrich via the product
    * dict. Single-record view: the multi-record and tabular platforms
    * (etl_div_multi / etl_div_rows) surface their first block here,
    * the same first-occurrence contract as etl_ingest_files. Unknown
    * platforms surface valid=false where the reference silently
    * `continue`s past them (:1444).
    */
  val etlDivIngest: Q = (s, _) =>
    divIngestFrame(s).drop("rec_marker").orderBy(col("file_name"))

  private[graft] def divIngestFrame(s: SparkSession,
      classified: Option[DataFrame] = None): DataFrame = {
    val tokenCode =
      "nullif(regexp_extract(content, '(?:^|[\\n ])([0-9]{6}) [^\\n]*分红', 1), '')"
    classified.getOrElse(classify(s, divWalk))
      .withColumn("shares_raw", expr(divSharesRawSql("content")))
      .withColumn("amount_raw", expr(divAmountRawSql("content")))
      .withColumn("fund_code", expr(
        s"""CASE WHEN token_mode THEN $tokenCode
           | ELSE nullif(regexp_extract(content, concat(coalesce(code_label, '基金代码'), '[：: ]*([0-9]{6})'), 1), '') END""".stripMargin))
      .withColumn("product_name", expr(
        """CASE WHEN token_mode
          |   THEN nullif(regexp_extract(file_name, '^(.+?)_jiaoyiquerendan', 1), '')
          | ELSE nullif(regexp_extract(content, concat(coalesce(name_label, '产品名称'), '[：: ]*(.+)'), 1), '') END""".stripMargin))
      .withColumn("div_amount", expr("cast(replace(amount_raw, ',', '') as double)"))
      .withColumn("div_shares", expr("cast(replace(shares_raw, ',', '') as double)"))
      .withColumn("div_end_date", expr(
        """CASE WHEN end_confirm
          |   THEN date_format(date_sub(to_date(nullif(regexp_extract(content, '确认日期[：: ]*([0-9]{8})', 1), ''), 'yyyyMMdd'), 1), 'yyyyMMdd')
          | ELSE date_format(date_sub(to_date(batch_date, 'yyyyMMdd'), 1), 'yyyyMMdd') END""".stripMargin))
      .join(broadcast(dictFrame(s, divWalk)), col("product_name") === col("p_name"), "left")
      .select(col("file_name"), col("batch_date"),
        coalesce(col("platform"), lit("UNKNOWN")).as("platform"),
        col("fund_code"), col("product_name"),
        coalesce(col("ledger_id"), lit("UNMAPPED")).as("ledger_id"),
        col("div_amount"), col("div_shares"), col("div_end_date"),
        lit("国内银行间").as("trade_market"),
        (col("fund_code").isNotNull && col("platform").isNotNull).as("valid"),
        col("rec_marker"))
  }

  /** MULTI-RECORD dividend extraction — yingmi 序号: blocks
    * (code∧amount∧shares validity) and liantai 交易信息 blocks
    * (code∧shares, amount = shares) — marker, validity and the
    * value-coupling all rule data; one posexplode, map-only.
    */
  val etlDivMulti: Q = (s, _) =>
    divMultiFrame(s).orderBy(col("file_name"), col("rec_no"))

  private def divMultiFrame(s: SparkSession,
      classified: Option[DataFrame] = None): DataFrame = {
    classified.getOrElse(classify(s, divWalk))
      .filter(col("rec_marker").isNotNull)
      .withColumn("product_name", expr(
        "nullif(regexp_extract(content, concat(name_label, '[：: ]*(.+)'), 1), '')"))
      .select(col("file_name"), col("platform"), col("product_name"),
        col("code_label"), col("amount_label"), col("shares_label"),
        col("amount_mode"), col("shares_mode"), col("token_mode"),
        col("rec_validity"),
        posexplode(expr("split(content, rec_marker)")).as(Seq("rec_no", "seg")))
      .filter(col("rec_no") >= 1)
      .withColumn("shares_raw", expr(divSharesRawSql("seg")))
      .withColumn("amount_raw", expr(divAmountRawSql("seg")))
      .withColumn("fund_code", expr(
        "nullif(regexp_extract(seg, concat(code_label, '[：: ]*([0-9]{6})'), 1), '')"))
      .withColumn("div_amount", expr("cast(replace(amount_raw, ',', '') as double)"))
      .withColumn("div_shares", expr("cast(replace(shares_raw, ',', '') as double)"))
      .filter(expr("""CASE rec_validity
        WHEN 'all' THEN fund_code IS NOT NULL AND div_amount IS NOT NULL AND div_shares IS NOT NULL
        WHEN 'code_shares' THEN fund_code IS NOT NULL AND div_shares IS NOT NULL
        ELSE fund_code IS NOT NULL END"""))
      .select(col("file_name"), col("platform"),
        col("rec_no").cast("long").as("rec_no"), col("product_name"),
        col("fund_code"), col("div_amount"), col("div_shares"))
  }

  /** The zdt dividend row shapes (`dividend_extractor.py:939-1009`):
    * 红利再投资 is the in-row marker between the code and the
    * amount/shares pair; compact (linebreak ate the fund name) beats
    * standard, and a file with NO tabular row anywhere falls back to
    * the single-bill 分红份额 label path with amount = shares.
    */
  private[graft] val zdtDivCompactRe =
    "^ *([0-9]+) +([0-9]{10,}) +([0-9]{6}) +红利再投资 +([0-9,]+[.]?[0-9]*) +([0-9,]+[.]?[0-9]*)"
  private[graft] val zdtDivStandardRe =
    "^ *([0-9]+) +([0-9]{10,}) +(.+?) +([0-9]{6}) +红利再投资 +([0-9,]+[.]?[0-9]*) +([0-9,]+[.]?[0-9]*)"

  val etlDivRows: Q = (s, _) =>
    divRowsFrame(s).orderBy(col("file_name"), col("row_no"))

  private def divRowsFrame(s: SparkSession,
      classified: Option[DataFrame] = None): DataFrame = {
    def g(re: String, i: Int) = expr(s"regexp_extract(line, '$re', $i)")
    def num(c: org.apache.spark.sql.Column) =
      regexp_replace(c, ",", "").cast("double")
    // the whole-content tabular gate: the row regexes with the line
    // anchor generalized to (^|\n) — exactly "some line matches"
    val gate = s"content rlike '${zdtDivCompactRe.replace("^", "(^|\\\\n)")}' " +
      s"or content rlike '${zdtDivStandardRe.replace("^", "(^|\\\\n)")}'"
    val z = classified
      .getOrElse(classify(s, divWalk))
      .filter(col("platform") === "zhengdatong")
      .withColumn("product_name", expr(
        "nullif(regexp_extract(content, concat(name_label, '[：: ]*(.+)'), 1), '')"))
      .withColumn("is_tabular", expr(gate))
    val tab = z.filter(col("is_tabular"))
      .select(col("file_name"), col("product_name"),
        posexplode(split(col("content"), "\n")).as(Seq("row_no", "line")))
      .withColumn("is_compact", expr(s"line rlike '$zdtDivCompactRe'"))
      .withColumn("is_standard", expr(s"line rlike '$zdtDivStandardRe'"))
      .filter(col("is_compact") || col("is_standard"))
      .select(col("file_name"), col("row_no").cast("long").as("row_no"),
        when(col("is_compact"), "compact").otherwise("standard").as("row_fmt"),
        when(col("is_compact"), g(zdtDivCompactRe, 1))
          .otherwise(g(zdtDivStandardRe, 1)).cast("long").as("seq"),
        when(col("is_compact"), g(zdtDivCompactRe, 2))
          .otherwise(g(zdtDivStandardRe, 2)).as("account"),
        col("product_name"),
        when(col("is_compact"), g(zdtDivCompactRe, 3))
          .otherwise(g(zdtDivStandardRe, 4)).as("fund_code"),
        num(when(col("is_compact"), g(zdtDivCompactRe, 4))
          .otherwise(g(zdtDivStandardRe, 5))).as("div_amount"),
        num(when(col("is_compact"), g(zdtDivCompactRe, 5))
          .otherwise(g(zdtDivStandardRe, 6))).as("div_shares"))
    val single = z.filter(!col("is_tabular"))
      .withColumn("fund_code", expr(
        "nullif(regexp_extract(content, '基金代码[：: ]*([0-9]{6})', 1), '')"))
      .withColumn("div_shares", expr(
        "cast(replace(nullif(regexp_extract(content, '分红份额[：: ]*([0-9,]+[.]?[0-9]*)', 1), ''), ',', '') as double)"))
      .filter(col("fund_code").isNotNull && col("div_shares").isNotNull)
      .select(col("file_name"), lit(0L).as("row_no"),
        lit("single").as("row_fmt"),
        lit(null).cast("long").as("seq"),
        lit(null).cast("string").as("account"),
        col("product_name"), col("fund_code"),
        col("div_shares").as("div_amount"), col("div_shares"))
    tab.unionByName(single)
  }

  /** The dividend GROUP-MERGE output
    * (`dividend_extractor.py:1460-1483`): every extracted leg —
    * single-record files, yingmi/liantai record lists, zdt rows —
    * grouped by (账套编号, 基金市场代码), money summed (integer cents:
    * the legs are round(2)'d by the reference before summing, and e2
    * sums are engine-stable where double sums are order-sensitive),
    * the platforms 、-joined in first-seen corpus order
    * (pandas `unique()` preserves first appearance), the product name
    * from the first-seen leg. Unmapped products drop out exactly as
    * pandas `groupby` drops NaN keys. Two partial-agg exchanges; the
    * platform merge is a bounded per-group sort, never a global one.
    */
  val etlDivMerge: Q = (s, _) => {
    // ONE classified scan shared by all three legs (round 17): each
    // leg builder defaults to its own binaryFile scan + compiled
    // matrix classification so the standalone ops stay self-contained,
    // but composing them verbatim re-ran that scan+classify three
    // times inside one query. Persisted MEMORY_AND_DISK; in a 100 TB
    // deployment this is the per-batch statement slice, not a corpus.
    // Lifecycle note (round-17 advice): never unpersisted here — the
    // returned frame reads it through all three legs, so the entry
    // lives until the caller's clearCache (Bench does this between
    // measurements) or session end; blocks are storage-evictable and
    // a long-lived driver re-running the op reuses the same entry
    // (plan-identity) rather than accreting new ones.
    val cls = classify(s, divWalk).persist()
    val singles = divIngestFrame(s, Some(cls))
      .filter(col("valid") && col("rec_marker").isNull &&
        col("platform") =!= "zhengdatong")
      .select(col("file_name"), lit(0L).as("leg_no"), col("platform"),
        col("product_name"), col("fund_code"),
        col("div_amount"), col("div_shares"))
    val multi = divMultiFrame(s, Some(cls))
      .select(col("file_name"), col("rec_no").as("leg_no"), col("platform"),
        col("product_name"), col("fund_code"),
        col("div_amount"), col("div_shares"))
    val zrows = divRowsFrame(s, Some(cls))
      .select(col("file_name"), col("row_no").as("leg_no"),
        lit("zhengdatong").as("platform"), col("product_name"),
        col("fund_code"), col("div_amount"), col("div_shares"))
    val legs = singles.unionByName(multi).unionByName(zrows)
      .join(broadcast(dictFrame(s, divWalk)), col("product_name") === col("p_name"), "inner")
      .withColumn("seq", concat(col("file_name"), lit("#"),
        lpad(col("leg_no").cast("string"), 6, "0")))
      .withColumn("amount_e2", expr("cast(floor(div_amount * 100 + 0.5) as bigint)"))
      .withColumn("shares_e2", expr("cast(floor(div_shares * 100 + 0.5) as bigint)"))
    legs
      .groupBy(col("ledger_id"), col("fund_code"), col("platform"))
      .agg(min(col("seq")).as("first_seen"),
        sum(col("amount_e2")).as("a2"), sum(col("shares_e2")).as("s2"),
        expr("min_by(product_name, seq)").as("pn"),
        count(lit(1)).as("n"))
      .groupBy(col("ledger_id"), col("fund_code"))
      .agg(sum(col("a2")).as("div_amount_e2"),
        sum(col("s2")).as("div_shares_e2"),
        array_join(transform(array_sort(collect_list(struct(
          col("first_seen"), col("platform")))), x => x.getField("platform")),
          "、").as("platforms"),
        expr("min_by(pn, first_seen)").as("product_name"),
        sum(col("n")).as("n_legs"))
      .orderBy(col("ledger_id"), col("fund_code"))
  }

  /** PURCHASE-APPLY ingest — the reference's fourth front door
    * (`purchase_extractor.py:947-1110`): walk-level filename
    * exclusions (赎回/超级/转换/分红方式/分红设置/失效 → EXCL_*,
    * surfaced instead of silently dropped), classify by the apply
    * chain, extract the single 申购金额 with the per-platform label
    * and same/both placement mode, enrich, emit the apply master
    * constants (业务类别=基金申购申请). Same 100 TB shape as every
    * ingest: compiled map-only chain, broadcast-only joins.
    */
  val etlApplyIngest: Q = (s, _) => {
    classify(s, applyWalk)
      .withColumn("biz_type", routeCol(applyWalk))
      .withColumn("fund_code", expr(
        "nullif(regexp_extract(content, concat(coalesce(code_label, '基金代码'), '[：: ]*([0-9]{6})'), 1), '')"))
      .withColumn("product_name", expr(
        "nullif(regexp_extract(content, concat(coalesce(name_label, '产品名称'), '[：: ]*(.+)'), 1), '')"))
      .withColumn("apply_amount",
        expr(s"cast(replace(${applyAmountSql("content")}, ',', '') as double)"))
      .join(broadcast(dictFrame(s, applyWalk)), col("product_name") === col("p_name"), "left")
      .select(col("file_name"), col("batch_date"),
        coalesce(col("platform"), lit("UNKNOWN")).as("platform"),
        col("biz_type"), col("fund_code"), col("product_name"),
        coalesce(col("ledger_id"), lit("UNMAPPED")).as("ledger_id"),
        col("apply_amount"),
        lit("国内银行间").as("trade_market"),
        lit("基金申购申请").as("biz_class"),
        (col("fund_code").isNotNull && col("platform").isNotNull).as("valid"))
      .orderBy(col("file_name"))
  }

  /** MULTI-RECORD apply extraction — yingmi 交易类型-申购 blocks and
    * liantai 交易信息 blocks, both with the code∧amount record rule
    * (`purchase_extractor.py:236-238` / `:712-714`).
    */
  val etlApplyMulti: Q = (s, _) => {
    classify(s, applyWalk)
      .filter(col("rec_marker").isNotNull)
      .withColumn("product_name", expr(
        "nullif(regexp_extract(content, concat(name_label, '[：: ]*(.+)'), 1), '')"))
      .select(col("file_name"), col("platform"), col("product_name"),
        col("code_label"), col("amount_label"), col("amount_mode"),
        posexplode(expr("split(content, rec_marker)")).as(Seq("rec_no", "seg")))
      .filter(col("rec_no") >= 1)
      .withColumn("fund_code", expr(
        "nullif(regexp_extract(seg, concat(code_label, '[：: ]*([0-9]{6})'), 1), '')"))
      .withColumn("apply_amount",
        expr(s"cast(replace(${applyAmountSql("seg")}, ',', '') as double)"))
      .filter(col("fund_code").isNotNull && col("apply_amount").isNotNull)
      .select(col("file_name"), col("platform"),
        col("rec_no").cast("long").as("rec_no"), col("product_name"),
        col("fund_code"), col("apply_amount"))
      .orderBy(col("file_name"), col("rec_no"))
  }

  /** zdt's two apply formats (`purchase_extractor.py:880-946`):
    * SINGLE (申购受理单 in lines[:2], no 汇总 there — label
    * extraction) vs 汇总 CODE-ANCHOR rows, where every 6-digit code
    * anchors a record whose amount is the first money after it on
    * the same line or at the start of the next line. The anchor scan
    * is ONE regexp_extract_all pass per group over the content —
    * map-only, no per-line explode needed; unmatched alternation
    * groups normalize via nullif('') (Spark) / NULL (DuckDB).
    */
  private[graft] val zdtApplyAnchorRe =
    "([0-9]{6})(?:[^\\n]*?([0-9,]+[.][0-9]+)|[^\\n]*\\n *([0-9,]+[.][0-9]+))"

  val etlApplyRows: Q = (s, _) => {
    val z = classify(s, applyWalk)
      .filter(col("platform") === "zhengdatong")
      .withColumn("product_name", expr(
        "nullif(regexp_extract(content, concat(name_label, '[：: ]*(.+)'), 1), '')"))
      .withColumn("first2", expr("substring_index(content, '\\n', 2)"))
      .withColumn("is_single", col("first2").contains("申购受理单") &&
        !col("first2").contains("汇总"))
    val single = z.filter(col("is_single"))
      .withColumn("fund_code", expr(
        "nullif(regexp_extract(content, '基金代码[：: ]*([0-9]{6})', 1), '')"))
      .withColumn("apply_amount", expr(
        "cast(replace(nullif(regexp_extract(content, '申购金额（小写）[：: ]*([0-9,]+[.][0-9]+)', 1), ''), ',', '') as double)"))
      .filter(col("fund_code").isNotNull && col("apply_amount").isNotNull)
      .select(col("file_name"), lit(0L).as("row_no"),
        lit("single").as("row_fmt"), col("product_name"),
        col("fund_code"), col("apply_amount"))
    val anchors = z.filter(!col("is_single"))
      .select(col("file_name"), col("product_name"),
        posexplode(expr(
          s"""arrays_zip(regexp_extract_all(content, '$zdtApplyAnchorRe', 1),
             |  regexp_extract_all(content, '$zdtApplyAnchorRe', 2),
             |  regexp_extract_all(content, '$zdtApplyAnchorRe', 3))""".stripMargin))
          .as(Seq("row_no", "m")))
      .select(col("file_name"), (col("row_no") + 1).cast("long").as("row_no"),
        lit("anchor").as("row_fmt"), col("product_name"),
        col("m").getField("0").as("fund_code"),
        expr("cast(replace(coalesce(nullif(m['1'], ''), nullif(m['2'], '')), ',', '') as double)")
          .as("apply_amount"))
      .filter(col("apply_amount").isNotNull)
    single.unionByName(anchors).orderBy(col("file_name"), col("row_no"))
  }

  /** CONVERSION ingest — the 超级转换 walk as one operator: the
    * inclusion filename filter (non-转换 files surface as
    * EXCL_NOT_CONV), the two-platform chain, jd's paired labels vs
    * tiantian's positional pair-next format (mode is rule data), the
    * dual fee strategies, the conversion-specific dict, and the
    * derived tiantian 转入金额 computed in integer cents (exact at
    * 2dp on both engines). Map-only + broadcast joins like every
    * ingest; the wide out/in record is the reference's 19-column
    * conversion master shape.
    */
  val etlConvIngest: Q = (s, _) => {
    def money(lbl: String) =
      s"cast(replace(nullif(regexp_extract(content, '$lbl[：: ]*([0-9,]+[.][0-9]+)', 1), ''), ',', '') as double)"
    val feeA =
      "cast(replace(nullif(regexp_extract(content, '(?:^|\\n)[^\\n]*手续费[^\\n]*?([0-9,]+[.][0-9]+)', 1), ''), ',', '') as double)"
    val feeB =
      "cast(replace(nullif(regexp_extract(content, '([0-9,]+[.][0-9]+) *[（(][^\\n]*\\n[^\\n]*手续费', 1), ''), ',', '') as double)"
    classify(s, convWalk)
      .withColumn("biz_type", routeCol(convWalk))
      .withColumn("product_name", expr(
        """CASE WHEN mode = 'pairnext' THEN
          |   nullif(concat(
          |     coalesce(regexp_extract(content, '(?:^|\\n)(万联[^\\n]*)', 1), ''),
          |     coalesce(regexp_extract(content, '(?:^|\\n)万联[^\\n]*\\n([^\\n]*计划[^\\n]*)', 1), '')), '')
          | ELSE nullif(regexp_extract(content, '客户名称[：: ]*(.+)', 1), '') END""".stripMargin))
      .withColumn("out_fund_code", expr(
        "nullif(regexp_extract(content, '转出基金代码[：: ]*([0-9]{6})', 1), '')"))
      .withColumn("in_fund_code", expr(
        "nullif(regexp_extract(content, '转入基金代码[：: ]*([0-9]{6})', 1), '')"))
      .withColumn("out_shares", expr(s"""CASE WHEN mode = 'pairnext'
        | THEN cast(replace(nullif(regexp_extract(content, '转出基金确认\\n *([0-9,]+[.][0-9]+) +([0-9,]+[.][0-9]+)', 1), ''), ',', '') as double)
        | ELSE ${money("转出基金确认份额")} END""".stripMargin))
      .withColumn("out_amount", expr(s"""CASE WHEN mode = 'pairnext'
        | THEN cast(replace(nullif(regexp_extract(content, '转出基金确认\\n *([0-9,]+[.][0-9]+) +([0-9,]+[.][0-9]+)', 2), ''), ',', '') as double)
        | ELSE ${money("转出基金确认金额")} END""".stripMargin))
      .withColumn("in_shares", expr(s"""CASE WHEN mode = 'pairnext'
        | THEN cast(replace(nullif(regexp_extract(content, '转入基金确认\\n *([0-9,]+[.][0-9]+)', 1), ''), ',', '') as double)
        | ELSE ${money("转入基金确认份额")} END""".stripMargin))
      .withColumn("conv_fee", expr(s"""CASE WHEN mode = 'pairnext'
        | THEN coalesce($feeA, $feeB)
        | ELSE ${money("转换手续费")} END""".stripMargin))
      // tiantian derives 转入金额 = 转出金额 − 手续费 in exact cents
      .withColumn("in_amount", expr(s"""CASE WHEN mode = 'pairnext'
        | THEN cast(cast(floor(out_amount * 100 + 0.5) as bigint)
        |        - coalesce(cast(floor(conv_fee * 100 + 0.5) as bigint), 0) as double) / 100.0
        | ELSE ${money("转入基金确认金额")} END""".stripMargin))
      .join(broadcast(dictFrame(s, convWalk)), col("product_name") === col("p_name"), "left")
      .select(col("file_name"), col("batch_date"),
        coalesce(col("platform"), lit("UNKNOWN")).as("platform"),
        col("biz_type"), col("product_name"),
        coalesce(col("conv_ledger"), lit("UNMAPPED")).as("conv_ledger"),
        col("out_fund_code"), col("out_amount"), col("out_shares"),
        col("in_fund_code"), col("in_amount"), col("in_shares"),
        col("conv_fee"), col("batch_date").as("out_confirm_date"),
        (col("out_fund_code").isNotNull && col("platform").isNotNull).as("valid"))
      .orderBy(col("file_name"))
  }

  private[graft] val statementsOcrDir = corpusDir("statements_ocr")

  /** REAL OCR ingest — etl_ocr_route's stub unhex replaced with actual
    * text RECOGNITION over scanned statement images
    * (`manual_purchase_confirm_extractor.py:38-58` — the reference's
    * `extract_text_with_easyocr` in all four manual_* extractors; the
    * neural engine is env-blocked, so the recognizer is its classic
    * fixed-font ancestor): [[graft.functions.OcrCodec]] template-
    * matches each 16x16 glyph cell of the committed scanned-PNG corpus
    * (data/statements_ocr, rendered by the independent generator
    * tools/gen_scans.py) against the committed font atlas — exact hash
    * hit on clean cells, Hamming nearest-neighbor on the noisy leg,
    * deterministic REJECTION ('?', score 0) on cells beyond 64 bits
    * from every template — and the recognized text feeds the SAME
    * classify → extract → enrich chain as every other front door.
    *
    * The reference's confidence gate (OCR only when the text layer
    * yields nothing) is the routing here too: plain-text statements
    * pass through with ocr_used=false and full confidence; scans carry
    * the matcher's ALL-INTEGER confidence (ppm of matched template
    * bits), and a corrupt scan (bad magic / truncated / corrupt IDAT)
    * surfaces as ocr_ok=false, valid=false — one row, never a thrown
    * scan. The oracle reads the generator's formula-derived sidecar
    * (expected text with '?' at destroyed cells, confidence from the
    * flipped-bit count), so the recognition is pinned character-exact
    * AND confidence-exact — a matcher bug cannot self-confirm.
    * Map-only decode over a binaryFile scan; one broadcast rules join.
    */
  /** The text∪OCR routed frame — shared by etl_ocr_real (exact-label
    * extraction) and etl_ocr_fuzzy_extract (label-garble-tolerant
    * extraction), so both read the recognizer's output identically.
    */
  private def ocrRealRouted(s: SparkSession): DataFrame = {
    import s.implicits._
    val scans = graft.sources.BinaryFiles.scan(s, "*.png", statementsOcrDir)
      // the committed font atlas lives under font/ next to the corpus;
      // it is the matcher's model, not an input document
      .filter(!col("path").contains("/font/"))
      .select(col("file_name"), col("batch_date"), col("content"))
      .as[(String, String, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (name, date, bytes) =>
          graft.functions.OcrCodec.recognize(bytes) match {
            case Some(r) => (name, date, true, true, r.text, r.confPpm)
            case None    => (name, date, true, false, "", 0L)
          }
        }
      }
      .toDF("file_name", "batch_date", "ocr_used", "ocr_ok", "content",
        "ocr_conf_ppm")
    val texts = loadStatements(s, "*.txt", statementsDir)
      .select(col("file_name"), col("batch_date"),
        lit(false).as("ocr_used"), lit(true).as("ocr_ok"), col("content"),
        lit(1000000L).as("ocr_conf_ppm"))
    texts.unionByName(scans)
  }

  val etlOcrReal: Q = (s, _) => {
    val routed = ocrRealRouted(s)
    extractStatementFields(s, classify(s, confirmWalk, routed),
      extra = Seq("ocr_used", "ocr_ok", "ocr_conf_ppm", "content"))
      .orderBy(col("file_name"))
  }

  /** §2.B round 10 — OCR-TOLERANT fuzzy field extraction: the noisy
    * scans garble field LABELS ('产品?称：' — the glyph matcher emits
    * '?' at destroyed cells), so the exact-label regexes of
    * etl_ocr_real silently drop those fields. This operator splits
    * each recognized statement into label：value lines and matches the
    * labels FUZZILY — character-set Jaccard against the three target
    * labels (产品名称/基金代码/确认日期, chosen mutually char-disjoint so
    * no cross-match clears the 0.5 bar), argmax per (file, field) with
    * jac DESC, line-order tie-break, all e4-floor-quantized for
    * engine-stable comparison. Shape: map-side line explode →
    * broadcast 3-row label cross → one (file, field) argmax collapse →
    * one pivot groupBy — robust extraction at scan speed, the
    * production answer to OCR noise that exact regexes cannot give.
    */
  val etlOcrFuzzyExtract: Q = (s, _) => {
    val labels = Seq(("product_name", "产品名称"), ("fund_code", "基金代码"),
      ("trade_date", "确认日期"))
    val sqlCtx = s
    import sqlCtx.implicits._
    val labelDf = labels.toDF("field", "canonical")
    // Java's split(regex, -1) keeps a trailing "" that DuckDB's
    // regexp_split_to_array drops — remove it or every char set gains
    // a phantom member on the Spark side
    val chars = (c: org.apache.spark.sql.Column) =>
      array_remove(array_distinct(split(c, "")), "")
    val lines = ocrRealRouted(s)
      .filter(col("ocr_ok"))
      .select(col("file_name"), posexplode(split(col("content"), "\n"))
        .as(Seq("line_no", "line")))
      .filter(col("line").contains("："))
      .select(col("file_name"), col("line_no"),
        substring_index(col("line"), "：", 1).as("lab"),
        expr("substring(line, length(substring_index(line, '：', 1)) + 2)")
          .as("value"))
    val scored = lines.crossJoin(broadcast(labelDf))
      .withColumn("jac", floor(
        size(array_intersect(chars(col("lab")), chars(col("canonical"))))
          .cast("double") /
          size(array_union(chars(col("lab")), chars(col("canonical"))))
            .cast("double") * 10000 + 0.5) / 10000.0)
      .filter(col("jac") >= 0.5)
    scored
      .groupBy(col("file_name"), col("field"), col("canonical"))
      .agg(min(struct((-col("jac")).as("nj"), col("line_no").as("ln"),
        col("value").as("v"), col("lab").as("l"))).as("best"))
      .groupBy(col("file_name"))
      .agg(
        max(when(col("field") === "product_name", col("best.v"))).as("product_name"),
        max(when(col("field") === "fund_code", col("best.v"))).as("fund_code"),
        max(when(col("field") === "trade_date",
          regexp_replace(col("best.v"), "[^0-9]", ""))).as("trade_date"),
        count(when(col("best.l") =!= col("canonical"), lit(1)))
          .as("n_fuzzy_recovered"))
      .orderBy(col("file_name"))
  }

  /** OCR VALUE recovery against the canonical product dictionary —
    * completes the fuzzy-OCR story: [[etlOcrFuzzyExtract]] recovers
    * garbled LABELS, this recovers garbled VALUES (the reference's
    * product-code-manager semantics: a statement's product name must
    * resolve to a dictionary entry even when a glyph was destroyed).
    * The dictionary derives from the PLAIN statement corpus (never
    * garbled), so recovery is self-contained. Glyph destruction is
    * cell-for-cell ('?' replaces exactly one glyph), so the garbled
    * value has the SAME character length as its original and HAMMING
    * distance is the exact edit metric — char-positional comparison is
    * engine-portable (both engines index characters) where
    * levenshtein is not (DuckDB's counts BYTES on CJK). Match =
    * same-length dict entries within distance ≤2, argmin by
    * (distance, name); files whose value resolves nowhere keep a row
    * with matched_name NULL. Shape: dict is tiny → broadcast
    * hash-join on the length key; distance is a per-candidate-row
    * fold (≤|dict| rows per file); one (file) argmin collapse — at
    * 100 TB of statements this is map-side against a broadcast dict
    * plus one narrow groupBy.
    */
  val etlFuzzyProductMatch: Q = (s, _) => {
    val label = "产品名称："
    // localCheckpoint (NOT persist): the frame feeds BOTH the
    // candidate aggregate and the final fan-back join, and Catalyst
    // does not share uncached subtrees — without a barrier every run
    // would decode and glyph-match the whole PNG corpus twice. A
    // persist() would have to be manually released (the session-cache
    // leak an earlier round shipped and a review caught); the
    // checkpoint's blocks free with the RDD on GC, need no finally,
    // and keep the OPERATOR's returned plan a real plan — the generic
    // PlanHealthSpec guards (no CartesianProduct, broadcast shapes)
    // keep seeing the joins instead of an opaque ExistingRDD scan.
    val lines = ocrRealRouted(s)
      .filter(col("ocr_ok"))
      .select(col("file_name"), col("ocr_used"),
        posexplode(split(col("content"), "\n")).as(Seq("line_no", "line")))
      .filter(col("line").startsWith(label))
      .groupBy(col("file_name"), col("ocr_used"))
      .agg(min(struct(col("line_no"), col("line"))).as("f"))
      .select(col("file_name"), col("ocr_used"),
        expr("substring(f.line, 6)").as("raw_name"))
      .withColumn("len", length(col("raw_name")))
      .localCheckpoint()
    // length > 0 keeps the degenerate empty-value case out of the
    // candidate join entirely (an empty raw then left-joins to a NULL
    // match, the honest answer) — and keeps the per-position fold off
    // the sequence(1, 0) descending-sequence edge where Spark and
    // DuckDB list_sum(NULL-on-empty) semantics diverge
    val dict = loadStatements(s, "*.txt", statementsDir)
      .select(explode(split(col("content"), "\n")).as("line"))
      .filter(col("line").startsWith(label))
      .select(expr("substring(line, 6)").as("canon")).distinct()
      .withColumn("len", length(col("canon")))
      .filter(col("len") > 0)
    val best = lines.join(broadcast(dict), "len")
      .withColumn("ham", expr(
        "aggregate(sequence(1, len), 0L, (acc, i) -> acc + " +
          "IF(substring(raw_name, i, 1) = substring(canon, i, 1), 0L, 1L))"))
      .filter(col("ham") <= 2)
      .groupBy(col("file_name"))
      .agg(min(struct(col("ham"), col("canon"))).as("best"))
    lines.join(best, Seq("file_name"), "left")
      .select(col("file_name"), col("ocr_used"), col("raw_name"),
        col("best.canon").as("matched_name"),
        col("best.ham").cast("long").as("hamming"),
        coalesce(col("best.ham") > 0, lit(false)).as("recovered"))
      .orderBy(col("file_name"))
  }

  /** END-TO-END FLAGSHIP — the reference's whole program as ONE DAG:
    * every input shape (plain text statements, scanned images through
    * the OCR-stub route, binary containers through the codec) decodes
    * map-only, unions into the SAME rules-classify → extract →
    * normalize → dict-enrich chain, projects to the reference's
    * 16-column master schema, exact-dedups restated statements (the
    * scanned/container twins decode to byte-identical text, so the
    * dedup stage does real work, collapsing every twin onto its
    * ORIGINAL — decode_rank orders the window so the undecoded plain
    * file wins over its OCR/container re-decodes regardless of file
    * name), and hash-assigns train/val/test splits. The stages
    * compose without barriers: decode/extract/enrich/master are one
    * map-only pipeline over the scan; the only exchanges are the
    * classification window (file_name), the dedup window (text_hash)
    * and the presentation sort — spec-asserted in PlanHealthSpec, and
    * the property that matters at 100 TB: adding pipeline stages adds
    * zero shuffles.
    */
  val etlE2e: Q = (s, _) => {
    val texts = ocrRouted(loadStatements(s, "*.txt", statementsDir, statementsScanDir))
      .drop("ocr_used")
    val containers = containerDecoded(loadStatements(s, "*.gpdf", statementsPdfDir))
      .drop("container_ok")
    val extracted = extractStatementFields(s,
      classify(s, confirmWalk, texts.unionByName(containers)),
      extra = Seq("content", "decode_rank"))
    val byHash = Window.partitionBy(col("text_hash"))
    // FAILED decodes are exempt from the dedup window: every corrupt
    // container decodes to content='' (and an invalid scan payload to
    // null), so hashing the content would collapse DISTINCT failed
    // files onto one survivor — the reference tracks failed PDFs
    // per-file. Keying those rows on file_name keeps one output row
    // per unparseable input.
    extracted
      .withColumn("text_hash",
        // 'FAILED:' salt keeps the fallback in its own key domain: a
        // document whose entire text happens to equal another file's
        // NAME must not collapse with that file's failure row
        md5(coalesce(nullif(col("content"), lit("")),
          concat(lit("FAILED:"), col("file_name")))))
      .withColumn("rn",
        row_number().over(byHash.orderBy(col("decode_rank"), col("file_name"))))
      .withColumn("n_sources", count(lit(1)).over(byHash))
      .filter(col("rn") === 1)
      .withColumn("bucket",
        (coalesce(col("fund_code").cast("long"), lit(0L)) % 1000003) * 2654435761L % 100)
      .select(
        col("ledger_id"), col("fund_code"), lit("OTC").as("market"),
        col("trade_date"), col("biz_type"),
        col("shares"), col("amount"), col("fee"),
        money2(col("fee") * 0.15).as("commission"),
        col("platform").as("counterparty"),
        concat(lit("CA"), coalesce(col("fund_code"), lit("000000"))).as("cash_account"),
        when(col("biz_type") === "RED",
          date_format(date_add(to_date(col("trade_date"), "yyyyMMdd"), 3), "yyyyMMdd"))
          .as("arrival_date"),
        concat(lit("H"), coalesce(col("fund_code"), lit("000000"))).as("holder_account"),
        substring(coalesce(col("fund_code"), lit("000000")), 3, 4).as("seat_no"),
        col("product_name"), col("platform"),
        col("file_name").as("src_file"),
        col("n_sources").cast("long").as("n_sources"),
        when(col("bucket") < 80, "train").when(col("bucket") < 90, "val")
          .otherwise("test").as("split"),
        col("valid"))
      .orderBy(col("src_file"))
  }

  /** Rules-as-data classification over a LARGE table — the broadcast
    * rule relation from etl_ingest_files applied at corpus scale:
    * documents × 3 regex rules via broadcast nested-loop, first match
    * by priority wins, no per-class code. The shape that carries the
    * reference's 20+ platform × 5 biz-type matrix as data.
    */
  val etlRulesClassify: Q = (s, d) => {
    import s.implicits._
    val rules = Seq(
      (1, "stream.*window", "streaming_stmt"),
      (2, "join", "join_stmt"),
      (3, "group|sort", "agg_stmt"))
      .toDF("priority", "pattern", "doc_class")
    val byPriority = Window.partitionBy(col("doc_id")).orderBy(col("priority"))
    Tables.documents(s, d)
      .join(broadcast(rules), expr("text rlike pattern"), "left")
      .withColumn("rn", row_number().over(byPriority))
      .filter(col("rn") === 1)
      .select(col("doc_id"),
        coalesce(col("doc_class"), lit("other")).as("doc_class"),
        coalesce(col("priority"), lit(99)).cast("long").as("matched_priority"))
      .orderBy(col("doc_id"))
  }

  /** CDC changelog APPLY — materialize the final table state from an
    * ordered insert/update/delete stream (the Delta/Hudi merge shape;
    * the reference's analog is the daily rerun that restates a
    * previously-loaded batch, FundEtl.etlUpsertSnapshot, generalized
    * to row-level ops). The event stream stands in as the changelog:
    * signup → I, error → D, everything else → U, ordered by (ts,
    * event_id) per user_id. One row_number window keyed on user_id
    * picks the latest op; a key whose LAST op is a delete drops out of
    * the final state (an earlier delete is superseded by any later
    * I/U). One shuffle on the key — at 100 TB the same plan applies a
    * day's changelog against a bucketed snapshot without a sort-merge
    * of the full history.
    */
  val etlCdcApply: Q = (s, d) => {
    val byKey = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, d)
      .withColumn("op",
        when(col("event_type") === "signup", "I")
          .when(col("event_type") === "error", "D")
          .otherwise("U"))
      .withColumn("rn", row_number().over(byKey))
      .withColumn("n_ops",
        count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select(col("user_id"), col("op").as("last_op"),
        round(col("value"), 2).as("final_value"),
        unix_micros(col("ts")).as("last_ts_us"),
        col("n_ops").cast("long").as("n_ops"))
      .orderBy(col("user_id"))
  }

  /** §2.B round 10 — Avro container ingestion (the row-format feed a
    * fund pipeline receives from upstream JVMs; no spark-avro
    * connector in this deployment, so the bundled Avro library decodes
    * per partition — sources/Avro.scala). Per-file aggregate rows;
    * corrupt containers (bad magic, truncated block) surface as
    * avro_ok = false instead of a thrown scan. Sidecar-oracled against
    * the independent hand-rolled generator's expected values.
    */
  val etlAvroIngest: Q = (s, _) =>
    graft.sources.Avro.navIngest(s, graft.sources.Avro.avroDir)
      .orderBy(col("file_name"))

  private[graft] val statementsFwDir = corpusDir("statements_fw")

  /** Fixed-width statement-export ingest — the mainframe/bank-batch
    * interchange format next to the CSV/JSON/XLSX/PDF/scan legs: no
    * delimiters, column POSITIONS are the schema (ledger 1-6,
    * platform 7-16, fund code 17-22, right-aligned integer cents
    * 23-34/35-46, yyyymmdd 47-54). Parse is a map-only codegen'd
    * substring/trim/cast projection over the distributed text scan —
    * at 100 TB this runs at scan speed with zero shuffle before the
    * presentation sort. Lines off the 54-char layout surface as
    * ok=false rows with NULL fields (the etl_pdf_text / xlsx reject
    * contract), never a mis-parse or a thrown scan. The DuckDB oracle
    * re-derives every field from read_text + substr — a fully
    * independent parse path, no sidecar.
    */
  val etlFixedWidth: Q = (s, _) => {
    val ok = length(col("ln")) === 54
    s.read.text(statementsFwDir)
      .select(col("value").as("ln"))
      .filter(length(col("ln")) > 0)
      .select(
        when(ok, trim(substring(col("ln"), 1, 6))).as("ledger_id"),
        when(ok, trim(substring(col("ln"), 7, 10))).as("platform"),
        when(ok, substring(col("ln"), 17, 6)).as("fund_code"),
        when(ok, expr("CAST(trim(substring(ln, 23, 12)) AS BIGINT)")).as("amount_e2"),
        when(ok, expr("CAST(trim(substring(ln, 35, 12)) AS BIGINT)")).as("shares_e2"),
        when(ok, substring(col("ln"), 47, 8)).as("trade_date"),
        ok.as("ok"), length(col("ln")).cast("long").as("line_len"))
      .orderBy(col("ledger_id"), col("fund_code"), col("line_len"))
  }

  val queries: Map[String, Q] = Map(
    "etl_dict_maintain" -> etlDictMaintain,
    "etl_fixed_width" -> etlFixedWidth,
    "etl_avro_ingest" -> etlAvroIngest,
    "etl_cdc_apply" -> etlCdcApply,
    "etl_ingest_files" -> etlIngestFiles,
    "etl_multi_record" -> etlMultiRecord,
    "etl_redeem_ingest" -> etlRedeemIngest,
    "etl_redeem_multi" -> etlRedeemMulti,
    "etl_redeem_rows" -> etlRedeemRows,
    "etl_div_ingest" -> etlDivIngest,
    "etl_div_multi" -> etlDivMulti,
    "etl_div_rows" -> etlDivRows,
    "etl_div_merge" -> etlDivMerge,
    "etl_apply_ingest" -> etlApplyIngest,
    "etl_apply_multi" -> etlApplyMulti,
    "etl_apply_rows" -> etlApplyRows,
    "etl_conv_ingest" -> etlConvIngest,
    "etl_ocr_route" -> etlOcrRoute,
    "etl_ocr_real" -> etlOcrReal,
    "etl_ocr_fuzzy_extract" -> etlOcrFuzzyExtract,
    "etl_fuzzy_product_match" -> etlFuzzyProductMatch,
    "etl_pdf_decode" -> etlPdfDecode,
    "etl_pdf_text" -> etlPdfText,
    "etl_xlsx_ingest" -> etlXlsxIngest,
    "etl_e2e" -> etlE2e,
    "etl_rules_classify" -> etlRulesClassify,
    "etl_variant_shred" -> etlVariantShred,
    "etl_scd2" -> etlScd2,
    "etl_reconcile" -> etlReconcile,
    "etl_master_table" -> etlMasterTable,
    "etl_master_xlsx" -> etlMasterXlsx,
    "etl_json_typed" -> etlJsonTyped,
    "etl_upsert_snapshot" -> etlUpsertSnapshot,
    "etl_redemption_detail" -> etlRedemptionDetail,
    "etl_dividend" -> etlDividend,
    "etl_conversion" -> etlConversion,
    "etl_classify" -> etlClassify,
    "etl_extract_regex" -> etlExtractRegex,
    "etl_normalize_numbers" -> etlNormalizeNumbers,
    "etl_parse_dates" -> etlParseDates,
    "etl_json_fields" -> etlJsonFields,
    "etl_enrich_lookup" -> etlEnrichLookup,
    "etl_validate" -> etlValidate,
    "etl_standardize_union" -> etlStandardizeUnion,
    "etl_dedup_latest" -> etlDedupLatest,
    "etl_fee_model" -> etlFeeModel)

  /** The oracle's classification CASE, routing CASE and label relation
    * are all RENDERED from the same [[Walk]] values that compile the
    * Spark expressions — one source of truth, so a new platform row
    * updates query and oracle together and the two engines cannot drift
    * on rule semantics.
    */
  private def scopedContentSql(lo: Int, hi: Int): String =
    if (lo == 0 && hi < 0) "content"
    else {
      // DuckDB list slices are 1-based inclusive; a slice starting past
      // the end is NULL, where Spark's substring suffix is '' — coalesce
      // so negated literals agree between the engines
      val hiS = if (hi >= 0) hi.toString else ""
      s"coalesce(array_to_string(string_split(content, chr(10))[${lo + 1}:$hiS], chr(10)), '')"
    }

  private def litSql(l: SigLit): String = {
    val base = if (l.src == 'f') "file_name" else scopedContentSql(l.lo, l.hi)
    val p = s"contains($base, '${l.pattern}')"
    if (l.neg) s"NOT $p" else p
  }

  /** SQL twin of [[chain]]. */
  private def caseSql(arms: Seq[(String, Seq[Seq[SigLit]])], default: String): String =
    arms.map { case (v, cl) =>
      val p = cl.map(_.map(litSql).mkString("(", " AND ", ")")).mkString("(", " OR ", ")")
      s"WHEN $p THEN '$v'"
    }.mkString("CASE ", "\n         ", s" ELSE $default END")

  /** SQL twin of [[routeCol]]. */
  private[graft] def routeSql(w: Walk): String = caseSql(w.routeArms, s"'${w.routeDefault}'")

  /** The walk's label rows as SQL VALUES tuples; "" renders NULL. */
  private[graft] def rulesValuesSql(w: Walk): String =
    w.labelRows.map(_.map {
      case "" => "NULL"
      case v: String => s"'$v'"
      case v => v.toString
    }.mkString("(", ", ", ")")).mkString(",\n    ")

  private def pairsValuesSql(pairs: Seq[(String, String)]): String =
    pairs.map { case (a, b) => s"('$a', '$b')" }.mkString(", ")

  /** A dated-folder text scan as a CTE: (file_name, batch_date,
    * content) — `from` is read_text's argument, one quoted glob or a
    * list of them. */
  private def filesSql(from: String, name: String = "files"): String =
    s"""$name AS (
       |  SELECT regexp_extract(filename, '([^/]+)$$', 1) AS file_name,
       |    regexp_extract(filename, '([0-9]{8})/[^/]+$$', 1) AS batch_date,
       |    content
       |  FROM read_text($from))""".stripMargin

  /** The one oracle header every walk's oracle opens with: the rules
    * relation, the dict, the files CTE (the walk's corpus, or the
    * caller's `files(file_name, batch_date, content[, extra])` CTE for
    * the OCR/PDF/XLSX/e2e front doors), the classification CASE and the
    * label LEFT JOIN — the SQL twin of [[classify]].
    */
  private def walkCtes(w: Walk, filesCte: String = ""): String = {
    val cols = w.labels.map(_._1)
    s"""rules(platform, ${cols.mkString(", ")}) AS (
       |  VALUES ${rulesValuesSql(w)}),
       |dict(p_name, ${w.dictValue}) AS (VALUES ${pairsValuesSql(w.dict)}),
       |${if (filesCte.nonEmpty) filesCte else filesSql(s"'${w.dir}/*/*.txt'")},
       |classified AS (
       |  SELECT f.*,
       |    ${caseSql(w.platformArms, "NULL")} AS platform
       |  FROM files f),
       |labeled AS (
       |  SELECT c.*, ${cols.map("r." + _).mkString(", ")}
       |  FROM classified c LEFT JOIN rules r ON c.platform = r.platform)""".stripMargin
  }

  /** SQL twin of [[redeemDateExpr]] — rendered once, applied to the
    * whole statement (ingest) or the record segment (multi). */
  private def redeemDateSql(src: String): String =
    s"""coalesce(CASE date_mode
       |     WHEN 'hyphen' THEN replace(nullif(regexp_extract($src, date_label || '：([0-9]{4}-[0-9]{2}-[0-9]{2})', 1), ''), '-', '')
       |     WHEN 'plain8' THEN nullif(regexp_extract($src, date_label || '：([0-9]{8})', 1), '')
       |     WHEN 'nextline' THEN nullif(regexp_extract($src, date_label || '[^\\n]*\\n([0-9]{8})', 1), '')
       |     WHEN 'tplus' THEN coalesce(
       |       strftime(strptime(batch_date, '%Y%m%d') + INTERVAL (CAST(nullif(regexp_extract($src, date_label || '：T[+]([0-9]+)', 1), '') AS INTEGER) - 1) DAY, '%Y%m%d'),
       |       replace(nullif(regexp_extract($src, date_label || '：([0-9]{4}-[0-9]{2}-[0-9]{2})', 1), ''), '-', ''))
       |     END,
       |     CASE WHEN date_fb THEN batch_date END)""".stripMargin

  private def redeemIngestOracleSql: String =
    s"""WITH ${walkCtes(redeemWalk)},
       |sectioned AS (
       |  SELECT l.*, CASE WHEN section_marker IS NULL THEN content
       |    WHEN strpos(content, section_marker) > 0
       |      THEN substring(content, strpos(content, section_marker))
       |    ELSE '' END AS xcontent
       |  FROM labeled l),
       |extracted AS (
       |  SELECT file_name, batch_date, platform,
       |    ${routeSql(redeemWalk)} AS biz_type,
       |    nullif(regexp_extract(xcontent, coalesce(code_label, '基金代码') || '：([0-9]{6})', 1), '') AS fund_code,
       |    nullif(regexp_extract(xcontent, coalesce(name_label, '产品名称') || '：(.+)', 1), '') AS product_name,
       |    CAST(replace(nullif(regexp_extract(xcontent, coalesce(amount_label, '确认金额') || '：([0-9,]+[.][0-9]+)', 1), ''), ',', '') AS DOUBLE) AS amount,
       |    CAST(replace(nullif(regexp_extract(xcontent, coalesce(shares_label, '确认份额') || '：([0-9,]+[.][0-9]+)', 1), ''), ',', '') AS DOUBLE) AS shares,
       |    coalesce(
       |      CAST(replace(nullif(regexp_extract(xcontent, coalesce(fee_label, '手续费') || '：([0-9,]+[.][0-9]+)', 1), ''), ',', '') AS DOUBLE),
       |      CASE WHEN fee_def THEN CAST(0.0 AS DOUBLE) END) AS fee,
       |    ${redeemDateSql("xcontent")} AS arrival_date
       |  FROM sectioned),
       |enriched AS (
       |  SELECT e.file_name, e.batch_date,
       |    coalesce(e.platform, 'UNKNOWN') AS platform,
       |    e.biz_type, e.fund_code, e.product_name,
       |    coalesce(d.ledger_id, 'UNMAPPED') AS ledger_id,
       |    e.amount, e.shares, e.fee, e.arrival_date,
       |    '国内银行间' AS trade_market, '基金赎回确认' AS biz_class,
       |    (e.fund_code IS NOT NULL AND e.platform IS NOT NULL) AS valid
       |  FROM extracted e LEFT JOIN dict d ON e.product_name = d.p_name)
       |SELECT * FROM enriched ORDER BY file_name""".stripMargin

  private def redeemMultiOracleSql: String =
    s"""WITH ${walkCtes(redeemWalk)},
       |recs AS (
       |  SELECT file_name, batch_date, platform,
       |    nullif(regexp_extract(content, name_label || '：(.+)', 1), '') AS product_name,
       |    code_label, amount_label, shares_label, fee_label, date_label,
       |    date_mode, date_fb, fee_def, rec_validity,
       |    unnest(list_transform(regexp_split_to_array(content, rec_marker),
       |      (x, i) -> struct_pack(rec_no := i - 1, seg := x))) AS u
       |  FROM labeled WHERE rec_marker IS NOT NULL),
       |ex AS (
       |  SELECT file_name, batch_date, platform,
       |    CAST(u.rec_no AS BIGINT) AS rec_no, product_name,
       |    nullif(regexp_extract(u.seg, code_label || '：([0-9]{6})', 1), '') AS fund_code,
       |    CAST(replace(nullif(regexp_extract(u.seg, amount_label || '：([0-9,]+[.][0-9]+)', 1), ''), ',', '') AS DOUBLE) AS amount,
       |    CAST(replace(nullif(regexp_extract(u.seg, shares_label || '：([0-9,]+[.][0-9]+)', 1), ''), ',', '') AS DOUBLE) AS shares,
       |    coalesce(
       |      CAST(replace(nullif(regexp_extract(u.seg, fee_label || '：([0-9,]+[.][0-9]+)', 1), ''), ',', '') AS DOUBLE),
       |      CASE WHEN fee_def THEN CAST(0.0 AS DOUBLE) END) AS fee,
       |    ${redeemDateSql("u.seg")} AS arrival_date,
       |    rec_validity
       |  FROM recs WHERE u.rec_no >= 1)
       |SELECT file_name, platform, rec_no, product_name, fund_code,
       |  amount, shares, fee, arrival_date
       |FROM ex
       |WHERE CASE rec_validity
       |  WHEN 'code_any' THEN fund_code IS NOT NULL AND (amount IS NOT NULL OR shares IS NOT NULL)
       |  WHEN 'code_amount' THEN fund_code IS NOT NULL AND amount IS NOT NULL
       |  ELSE fund_code IS NOT NULL END
       |ORDER BY file_name, rec_no""".stripMargin

  private def redeemRowsOracleSql: String = {
    def pick(i: Int, j: Int) =
      s"CASE WHEN is_compact THEN regexp_extract(line, '$zdtCompactRe', $i) ELSE regexp_extract(line, '$zdtStandardRe', $j) END"
    s"""WITH ${walkCtes(redeemWalk)},
       |zfiles AS (
       |  SELECT file_name, batch_date,
       |    nullif(regexp_extract(content, name_label || '：(.+)', 1), '') AS product_name,
       |    content
       |  FROM labeled WHERE platform = 'zhengdatong'),
       |zlines AS (
       |  SELECT file_name, batch_date, product_name,
       |    unnest(list_transform(string_split(content, chr(10)),
       |      (x, i) -> struct_pack(row_no := i - 1, line := x))) AS u
       |  FROM zfiles),
       |m AS (
       |  SELECT file_name, batch_date, product_name,
       |    CAST(u.row_no AS BIGINT) AS row_no, u.line,
       |    regexp_matches(u.line, '$zdtCompactRe') AS is_compact,
       |    regexp_matches(u.line, '$zdtStandardRe') AS is_standard
       |  FROM zlines)
       |SELECT file_name, row_no,
       |  CASE WHEN is_compact THEN 'compact' ELSE 'standard' END AS row_fmt,
       |  CAST(${pick(1, 1)} AS BIGINT) AS seq,
       |  ${pick(2, 2)} AS account,
       |  product_name,
       |  ${pick(3, 4)} AS fund_code,
       |  CAST(replace(${pick(4, 5)}, ',', '') AS DOUBLE) AS shares,
       |  CAST(replace(${pick(5, 6)}, ',', '') AS DOUBLE) AS amount,
       |  CAST(replace(${pick(6, 7)}, ',', '') AS DOUBLE) AS fee,
       |  batch_date AS arrival_date
       |FROM m WHERE is_compact OR is_standard
       |ORDER BY file_name, row_no""".stripMargin
  }

  /** Same-line / next-line dividend value extraction over `src` with
    * the label held in column `lbl` — the separators are the
    * reference's `[：: ]*` family — and the per-mode raw shares/amount
    * pair built from them: the value-coupled platforms (amount_label
    * NULL) copy shares into amount exactly like the reference's
    * `dividend_amount = value` assignments. One text for both engines:
    * Spark reads it with `expr`, the oracle renders it as two stacked
    * CTE columns (shares first, coupled amounts copy it).
    */
  private def divSameSql(src: String, lbl: String): String =
    s"nullif(regexp_extract($src, $lbl || '[：: ]*([0-9,]+[.][0-9]+)', 1), '')"
  private def divNextSql(src: String, lbl: String): String =
    s"nullif(regexp_extract($src, $lbl || '[^\\n]*\\n *([0-9,]+[.][0-9]+)', 1), '')"
  private def divSharesRawSql(src: String): String =
    s"""CASE WHEN token_mode THEN nullif(regexp_extract($src, '分红 +(?:[^ ]+ +){5}([0-9,]+[.]?[0-9]*)', 1), '')
       |      WHEN shares_mode = 'next' THEN ${divNextSql(src, "shares_label")}
       |      WHEN shares_mode = 'both' THEN coalesce(${divSameSql(src, "shares_label")}, ${divNextSql(src, "shares_label")})
       |      ELSE ${divSameSql(src, "shares_label")} END""".stripMargin
  private def divAmountRawSql(src: String): String =
    s"""CASE WHEN token_mode OR amount_label IS NULL THEN shares_raw
       |      WHEN amount_mode = 'next' THEN ${divNextSql(src, "amount_label")}
       |      ELSE ${divSameSql(src, "amount_label")} END""".stripMargin

  private val divTokenCodeSql =
    """nullif(regexp_extract(content, '(?:^|[\n ])([0-9]{6}) [^\n]*分红', 1), '')"""

  private def divIngestEnrichedCtes: String =
    s"""${walkCtes(divWalk)},
       |valued AS (
       |  SELECT l.*, ${divSharesRawSql("content")} AS shares_raw
       |  FROM labeled l),
       |valued2 AS (
       |  SELECT v.*, ${divAmountRawSql("content")} AS amount_raw
       |  FROM valued v),
       |extracted AS (
       |  SELECT file_name, batch_date, platform, rec_marker,
       |    CASE WHEN token_mode THEN $divTokenCodeSql
       |         ELSE nullif(regexp_extract(content, coalesce(code_label, '基金代码') || '[：: ]*([0-9]{6})', 1), '') END AS fund_code,
       |    CASE WHEN token_mode THEN nullif(regexp_extract(file_name, '^(.+?)_jiaoyiquerendan', 1), '')
       |         ELSE nullif(regexp_extract(content, coalesce(name_label, '产品名称') || '[：: ]*(.+)', 1), '') END AS product_name,
       |    CAST(replace(amount_raw, ',', '') AS DOUBLE) AS div_amount,
       |    CAST(replace(shares_raw, ',', '') AS DOUBLE) AS div_shares,
       |    CASE WHEN end_confirm THEN strftime(strptime(nullif(regexp_extract(content, '确认日期[：: ]*([0-9]{8})', 1), ''), '%Y%m%d') - INTERVAL 1 DAY, '%Y%m%d')
       |         ELSE strftime(strptime(batch_date, '%Y%m%d') - INTERVAL 1 DAY, '%Y%m%d') END AS div_end_date
       |  FROM valued2),
       |enriched AS (
       |  SELECT e.file_name, e.batch_date,
       |    coalesce(e.platform, 'UNKNOWN') AS platform,
       |    e.fund_code, e.product_name,
       |    coalesce(d.ledger_id, 'UNMAPPED') AS ledger_id,
       |    e.div_amount, e.div_shares, e.div_end_date,
       |    '国内银行间' AS trade_market,
       |    (e.fund_code IS NOT NULL AND e.platform IS NOT NULL) AS valid,
       |    e.rec_marker
       |  FROM extracted e LEFT JOIN dict d ON e.product_name = d.p_name)""".stripMargin

  private def divIngestOracleSql: String =
    s"""WITH $divIngestEnrichedCtes
       |SELECT file_name, batch_date, platform, fund_code, product_name,
       |  ledger_id, div_amount, div_shares, div_end_date, trade_market,
       |  valid
       |FROM enriched ORDER BY file_name""".stripMargin

  /** Shared by the etl_div_multi oracle and the merge oracle's
    * multi-leg CTE. */
  private def divMultiExCtes: String =
    s"""recs AS (
       |  SELECT file_name, platform,
       |    nullif(regexp_extract(content, name_label || '[：: ]*(.+)', 1), '') AS product_name,
       |    code_label, amount_label, shares_label, amount_mode,
       |    shares_mode, token_mode, rec_validity,
       |    unnest(list_transform(regexp_split_to_array(content, rec_marker),
       |      (x, i) -> struct_pack(rec_no := i - 1, seg := x))) AS u
       |  FROM labeled WHERE rec_marker IS NOT NULL),
       |rvalued AS (
       |  SELECT file_name, platform, product_name, rec_validity,
       |    amount_label, amount_mode, token_mode,
       |    CAST(u.rec_no AS BIGINT) AS rec_no, u.seg,
       |    nullif(regexp_extract(u.seg, code_label || '[：: ]*([0-9]{6})', 1), '') AS fund_code,
       |    ${divSharesRawSql("u.seg")} AS shares_raw
       |  FROM recs WHERE u.rec_no >= 1),
       |rvalued2 AS (
       |  SELECT r.*, ${divAmountRawSql("r.seg")} AS amount_raw
       |  FROM rvalued r),
       |mrecs AS (
       |  SELECT file_name, platform, rec_no, product_name, fund_code,
       |    CAST(replace(amount_raw, ',', '') AS DOUBLE) AS div_amount,
       |    CAST(replace(shares_raw, ',', '') AS DOUBLE) AS div_shares,
       |    rec_validity
       |  FROM rvalued2),
       |mkept AS (
       |  SELECT file_name, platform, rec_no, product_name, fund_code,
       |    div_amount, div_shares
       |  FROM mrecs
       |  WHERE CASE rec_validity
       |    WHEN 'all' THEN fund_code IS NOT NULL AND div_amount IS NOT NULL AND div_shares IS NOT NULL
       |    WHEN 'code_shares' THEN fund_code IS NOT NULL AND div_shares IS NOT NULL
       |    ELSE fund_code IS NOT NULL END)""".stripMargin

  private def divMultiOracleSql: String =
    s"""WITH ${walkCtes(divWalk)},
       |$divMultiExCtes
       |SELECT * FROM mkept ORDER BY file_name, rec_no""".stripMargin

  /** Shared by the etl_div_rows oracle and the merge oracle's zdt-leg
    * CTE. */
  private def divRowsCtes: String = {
    def pick(i: Int, j: Int) =
      s"CASE WHEN is_compact THEN regexp_extract(line, '$zdtDivCompactRe', $i) ELSE regexp_extract(line, '$zdtDivStandardRe', $j) END"
    val gateC = zdtDivCompactRe.replace("^", "(^|\\n)")
    val gateS = zdtDivStandardRe.replace("^", "(^|\\n)")
    s"""zfiles AS (
       |  SELECT file_name,
       |    nullif(regexp_extract(content, name_label || '[：: ]*(.+)', 1), '') AS product_name,
       |    content,
       |    (regexp_matches(content, '$gateC') OR regexp_matches(content, '$gateS')) AS is_tabular
       |  FROM labeled WHERE platform = 'zhengdatong'),
       |zlines AS (
       |  SELECT file_name, product_name,
       |    unnest(list_transform(string_split(content, chr(10)),
       |      (x, i) -> struct_pack(row_no := i - 1, line := x))) AS u
       |  FROM zfiles WHERE is_tabular),
       |zm AS (
       |  SELECT file_name, product_name,
       |    CAST(u.row_no AS BIGINT) AS row_no, u.line,
       |    regexp_matches(u.line, '$zdtDivCompactRe') AS is_compact,
       |    regexp_matches(u.line, '$zdtDivStandardRe') AS is_standard
       |  FROM zlines),
       |ztab AS (
       |  SELECT file_name, row_no,
       |    CASE WHEN is_compact THEN 'compact' ELSE 'standard' END AS row_fmt,
       |    CAST(${pick(1, 1)} AS BIGINT) AS seq,
       |    ${pick(2, 2)} AS account,
       |    product_name,
       |    ${pick(3, 4)} AS fund_code,
       |    CAST(replace(${pick(4, 5)}, ',', '') AS DOUBLE) AS div_amount,
       |    CAST(replace(${pick(5, 6)}, ',', '') AS DOUBLE) AS div_shares
       |  FROM zm WHERE is_compact OR is_standard),
       |zsingle AS (
       |  SELECT file_name, CAST(0 AS BIGINT) AS row_no,
       |    'single' AS row_fmt, CAST(NULL AS BIGINT) AS seq,
       |    CAST(NULL AS VARCHAR) AS account, product_name,
       |    nullif(regexp_extract(content, '基金代码[：: ]*([0-9]{6})', 1), '') AS fund_code,
       |    CAST(replace(nullif(regexp_extract(content, '分红份额[：: ]*([0-9,]+[.]?[0-9]*)', 1), ''), ',', '') AS DOUBLE) AS div_amount,
       |    CAST(replace(nullif(regexp_extract(content, '分红份额[：: ]*([0-9,]+[.]?[0-9]*)', 1), ''), ',', '') AS DOUBLE) AS div_shares
       |  FROM zfiles WHERE NOT is_tabular
       |    AND nullif(regexp_extract(content, '基金代码[：: ]*([0-9]{6})', 1), '') IS NOT NULL
       |    AND nullif(regexp_extract(content, '分红份额[：: ]*([0-9,]+[.]?[0-9]*)', 1), '') IS NOT NULL),
       |zrows AS (
       |  SELECT * FROM ztab UNION ALL SELECT * FROM zsingle)""".stripMargin
  }

  private def divRowsOracleSql: String =
    s"""WITH ${walkCtes(divWalk)},
       |$divRowsCtes
       |SELECT * FROM zrows ORDER BY file_name, row_no""".stripMargin

  private def divMergeOracleSql: String =
    s"""WITH $divIngestEnrichedCtes,
       |$divMultiExCtes,
       |$divRowsCtes,
       |legs AS (
       |  SELECT file_name, 0 AS leg_no, platform, product_name,
       |    fund_code, div_amount, div_shares
       |  FROM enriched
       |  WHERE valid AND rec_marker IS NULL AND platform <> 'zhengdatong'
       |  UNION ALL
       |  SELECT file_name, rec_no AS leg_no, platform, product_name,
       |    fund_code, div_amount, div_shares
       |  FROM mkept
       |  UNION ALL
       |  SELECT file_name, row_no AS leg_no, 'zhengdatong' AS platform,
       |    product_name, fund_code, div_amount, div_shares
       |  FROM zrows),
       |mapped AS (
       |  SELECT l.*, d.ledger_id,
       |    l.file_name || '#' || lpad(CAST(l.leg_no AS VARCHAR), 6, '0') AS seq,
       |    CAST(floor(l.div_amount * 100 + 0.5) AS BIGINT) AS amount_e2,
       |    CAST(floor(l.div_shares * 100 + 0.5) AS BIGINT) AS shares_e2
       |  FROM legs l JOIN dict d ON l.product_name = d.p_name),
       |lvl1 AS (
       |  SELECT ledger_id, fund_code, platform, min(seq) AS first_seen,
       |    SUM(amount_e2) AS a2, SUM(shares_e2) AS s2,
       |    arg_min(product_name, seq) AS pn, COUNT(*) AS n
       |  FROM mapped GROUP BY 1, 2, 3)
       |SELECT ledger_id, fund_code,
       |  CAST(SUM(a2) AS BIGINT) AS div_amount_e2,
       |  CAST(SUM(s2) AS BIGINT) AS div_shares_e2,
       |  string_agg(platform, '、' ORDER BY first_seen) AS platforms,
       |  arg_min(pn, first_seen) AS product_name,
       |  CAST(SUM(n) AS BIGINT) AS n_legs
       |FROM lvl1 GROUP BY ledger_id, fund_code
       |ORDER BY ledger_id, fund_code""".stripMargin

  /** The apply amount over `src`; Spark reads the same text with `expr`. */
  private def applyAmountSql(src: String): String =
    s"""CASE WHEN amount_mode = 'both'
       |      THEN coalesce(${divSameSql(src, "amount_label")}, ${divNextSql(src, "amount_label")})
       |      ELSE ${divSameSql(src, "amount_label")} END""".stripMargin

  private def applyIngestOracleSql: String =
    s"""WITH ${walkCtes(applyWalk)},
       |extracted AS (
       |  SELECT file_name, batch_date, platform,
       |    ${routeSql(applyWalk)} AS biz_type,
       |    nullif(regexp_extract(content, coalesce(code_label, '基金代码') || '[：: ]*([0-9]{6})', 1), '') AS fund_code,
       |    nullif(regexp_extract(content, coalesce(name_label, '产品名称') || '[：: ]*(.+)', 1), '') AS product_name,
       |    CAST(replace(${applyAmountSql("content")}, ',', '') AS DOUBLE) AS apply_amount
       |  FROM labeled),
       |enriched AS (
       |  SELECT e.file_name, e.batch_date,
       |    coalesce(e.platform, 'UNKNOWN') AS platform,
       |    e.biz_type, e.fund_code, e.product_name,
       |    coalesce(d.ledger_id, 'UNMAPPED') AS ledger_id,
       |    e.apply_amount,
       |    '国内银行间' AS trade_market, '基金申购申请' AS biz_class,
       |    (e.fund_code IS NOT NULL AND e.platform IS NOT NULL) AS valid
       |  FROM extracted e LEFT JOIN dict d ON e.product_name = d.p_name)
       |SELECT * FROM enriched ORDER BY file_name""".stripMargin

  private def applyMultiOracleSql: String =
    s"""WITH ${walkCtes(applyWalk)},
       |recs AS (
       |  SELECT file_name, platform,
       |    nullif(regexp_extract(content, name_label || '[：: ]*(.+)', 1), '') AS product_name,
       |    code_label, amount_label, amount_mode,
       |    unnest(list_transform(regexp_split_to_array(content, rec_marker),
       |      (x, i) -> struct_pack(rec_no := i - 1, seg := x))) AS u
       |  FROM labeled WHERE rec_marker IS NOT NULL),
       |ex AS (
       |  SELECT file_name, platform, CAST(u.rec_no AS BIGINT) AS rec_no,
       |    product_name,
       |    nullif(regexp_extract(u.seg, code_label || '[：: ]*([0-9]{6})', 1), '') AS fund_code,
       |    CAST(replace(${applyAmountSql("u.seg")}, ',', '') AS DOUBLE) AS apply_amount
       |  FROM recs WHERE u.rec_no >= 1)
       |SELECT * FROM ex
       |WHERE fund_code IS NOT NULL AND apply_amount IS NOT NULL
       |ORDER BY file_name, rec_no""".stripMargin

  private def applyRowsOracleSql: String =
    s"""WITH ${walkCtes(applyWalk)},
       |zfiles AS (
       |  SELECT file_name,
       |    nullif(regexp_extract(content, name_label || '[：: ]*(.+)', 1), '') AS product_name,
       |    content,
       |    (contains(array_to_string(string_split(content, chr(10))[1:2], chr(10)), '申购受理单')
       |     AND NOT contains(array_to_string(string_split(content, chr(10))[1:2], chr(10)), '汇总')) AS is_single
       |  FROM labeled WHERE platform = 'zhengdatong'),
       |single AS (
       |  SELECT file_name, CAST(0 AS BIGINT) AS row_no,
       |    'single' AS row_fmt, product_name,
       |    nullif(regexp_extract(content, '基金代码[：: ]*([0-9]{6})', 1), '') AS fund_code,
       |    CAST(replace(nullif(regexp_extract(content, '申购金额（小写）[：: ]*([0-9,]+[.][0-9]+)', 1), ''), ',', '') AS DOUBLE) AS apply_amount
       |  FROM zfiles WHERE is_single),
       |anchored AS (
       |  SELECT file_name, product_name,
       |    regexp_extract_all(content, '$zdtApplyAnchorRe', 1) AS codes,
       |    regexp_extract_all(content, '$zdtApplyAnchorRe', 2) AS a2,
       |    regexp_extract_all(content, '$zdtApplyAnchorRe', 3) AS a3
       |  FROM zfiles WHERE NOT is_single),
       |anchor_rows AS (
       |  SELECT file_name, CAST(u.i AS BIGINT) AS row_no,
       |    'anchor' AS row_fmt, product_name,
       |    u.code AS fund_code,
       |    CAST(replace(coalesce(nullif(a2[u.i], ''), nullif(a3[u.i], '')), ',', '') AS DOUBLE) AS apply_amount
       |  FROM (SELECT file_name, product_name, a2, a3,
       |      unnest(list_transform(codes, (x, i) -> struct_pack(i := i, code := x))) AS u
       |    FROM anchored) t),
       |rows_all AS (
       |  SELECT * FROM single WHERE fund_code IS NOT NULL AND apply_amount IS NOT NULL
       |  UNION ALL
       |  SELECT * FROM anchor_rows WHERE apply_amount IS NOT NULL)
       |SELECT * FROM rows_all ORDER BY file_name, row_no""".stripMargin

  private def convIngestOracleSql: String = {
    def money(lbl: String) =
      s"CAST(replace(nullif(regexp_extract(content, '$lbl[：: ]*([0-9,]+[.][0-9]+)', 1), ''), ',', '') AS DOUBLE)"
    val pairRe = """转出基金确认\n *([0-9,]+[.][0-9]+) +([0-9,]+[.][0-9]+)"""
    val feeA =
      """CAST(replace(nullif(regexp_extract(content, '(?:^|\n)[^\n]*手续费[^\n]*?([0-9,]+[.][0-9]+)', 1), ''), ',', '') AS DOUBLE)"""
    val feeB =
      """CAST(replace(nullif(regexp_extract(content, '([0-9,]+[.][0-9]+) *[（(][^\n]*\n[^\n]*手续费', 1), ''), ',', '') AS DOUBLE)"""
    s"""WITH ${walkCtes(convWalk)},
       |extracted AS (
       |  SELECT file_name, batch_date, platform,
       |    ${routeSql(convWalk)} AS biz_type,
       |    CASE WHEN mode = 'pairnext' THEN
       |        nullif(coalesce(regexp_extract(content, '(?:^|\n)(万联[^\n]*)', 1), '')
       |          || coalesce(regexp_extract(content, '(?:^|\n)万联[^\n]*\n([^\n]*计划[^\n]*)', 1), ''), '')
       |      ELSE nullif(regexp_extract(content, '客户名称[：: ]*(.+)', 1), '') END AS product_name,
       |    nullif(regexp_extract(content, '转出基金代码[：: ]*([0-9]{6})', 1), '') AS out_fund_code,
       |    nullif(regexp_extract(content, '转入基金代码[：: ]*([0-9]{6})', 1), '') AS in_fund_code,
       |    CASE WHEN mode = 'pairnext'
       |      THEN CAST(replace(nullif(regexp_extract(content, '$pairRe', 1), ''), ',', '') AS DOUBLE)
       |      ELSE ${money("转出基金确认份额")} END AS out_shares,
       |    CASE WHEN mode = 'pairnext'
       |      THEN CAST(replace(nullif(regexp_extract(content, '$pairRe', 2), ''), ',', '') AS DOUBLE)
       |      ELSE ${money("转出基金确认金额")} END AS out_amount,
       |    CASE WHEN mode = 'pairnext'
       |      THEN CAST(replace(nullif(regexp_extract(content, '转入基金确认\n *([0-9,]+[.][0-9]+)', 1), ''), ',', '') AS DOUBLE)
       |      ELSE ${money("转入基金确认份额")} END AS in_shares,
       |    CASE WHEN mode = 'pairnext' THEN coalesce($feeA, $feeB)
       |      ELSE ${money("转换手续费")} END AS conv_fee,
       |    mode
       |  FROM labeled),
       |derived AS (
       |  SELECT e.*,
       |    CASE WHEN mode = 'pairnext'
       |      THEN CAST(CAST(floor(out_amount * 100 + 0.5) AS BIGINT)
       |             - coalesce(CAST(floor(conv_fee * 100 + 0.5) AS BIGINT), 0) AS DOUBLE) / 100.0
       |      ELSE ${money("转入基金确认金额")} END AS in_amount
       |  FROM extracted e JOIN files f USING (file_name))
       |SELECT d.file_name, d.batch_date,
       |  coalesce(d.platform, 'UNKNOWN') AS platform,
       |  d.biz_type, d.product_name,
       |  coalesce(c.conv_ledger, 'UNMAPPED') AS conv_ledger,
       |  d.out_fund_code, d.out_amount, d.out_shares,
       |  d.in_fund_code, d.in_amount, d.in_shares, d.conv_fee,
       |  d.batch_date AS out_confirm_date,
       |  (d.out_fund_code IS NOT NULL AND d.platform IS NOT NULL) AS valid
       |FROM derived d LEFT JOIN dict c ON d.product_name = c.p_name
       |ORDER BY d.file_name""".stripMargin
  }

  /** The master-table oracle SQL — shared by the etl_master_table
    * entry and the etl_master_xlsx round-trip oracle (which recomputes
    * the same slice, so a writer/reader defect hash-fails).
    */
  private val masterTableSql: String =
      """SELECT
        | coalesce(n_name, 'UNMAPPED') AS ledger_id,
        | lpad(CAST(o_custkey % 1000000 AS VARCHAR), 6, '0') AS fund_code,
        | CASE WHEN o_orderkey % 2 = 0 THEN 'OTC' ELSE 'EXCH' END AS market,
        | strftime(o_orderdate, '%Y%m%d') AS trade_date,
        | biz_type,
        | floor(o_totalprice / nav * 100 + 0.5) / 100.0 AS shares,
        | round(o_totalprice, 2) AS amount,
        | floor(o_totalprice * 0.0015 * 100 + 0.5) / 100.0 AS fee,
        | floor(greatest(o_totalprice * 0.0015 * 0.15, 5.0) * 100 + 0.5) / 100.0 AS commission,
        | platform AS counterparty,
        | lpad(CAST(o_custkey % 100000 AS VARCHAR), 8, '0') AS cash_account,
        | CASE WHEN biz_type = 'RED'
        |      THEN strftime(o_orderdate + INTERVAL 3 DAY, '%Y%m%d') END AS arrival_date,
        | concat('H', lpad(CAST(o_custkey AS VARCHAR), 9, '0')) AS holder_account,
        | lpad(CAST(o_orderkey % 1000 AS VARCHAR), 4, '0') AS seat_no,
        | c_name AS product_name,
        | platform,
        | o_orderkey AS rec_id
        |FROM (
        | SELECT *,
        |  1.0 + CAST(o_custkey % 80 AS DOUBLE) / 200.0 AS nav,
        |  CASE WHEN o_orderstatus = 'O' THEN 'SUB'
        |       WHEN o_orderstatus = 'F' THEN 'RED' ELSE 'DIV' END AS biz_type,
        |  ['haomai','tiantian','lide','yingmi','changliang','jiaohang','wangjin','pingan'][CAST(o_orderkey % 8 AS INT) + 1] AS platform
        | FROM orders
        | JOIN customer ON o_custkey = c_custkey
        | LEFT JOIN nation ON c_nationkey = n_nationkey) t
        |ORDER BY rec_id""".stripMargin

  private def dictOpsSql: String = dictOps
    .map { case (q, a, n, nn, nc) => s"($q, '$a', '$n', '$nn', '$nc')" }
    .mkString(", ")

  /** One shared ingest-oracle body for the whole ingest family
    * (etl_ingest_files / etl_ocr_route / etl_pdf_decode / ...): the
    * caller may supply its own `files(file_name, batch_date,
    * content[, extra])` CTE (OCR-routed, container-decoded, ...) and
    * the tail — field extraction, dict enrich — is one copy, so an
    * extraction fix can't reach one oracle and miss the others.
    */
  private def ingestOracleCtes(filesCte: String = "", extra: Seq[String] = Nil): String = {
    val extraPass = extra.map(", " + _).mkString
    val extraSel = extra.map(c => s", e.$c").mkString
    s"""${walkCtes(confirmWalk, filesCte)},
       |extracted AS (
       |  SELECT file_name, batch_date, platform,
       |    ${routeSql(confirmWalk)} AS biz_type,
       |    nullif(regexp_extract(content, coalesce(code_label, '基金代码') || '：([0-9]{6})', 1), '') AS fund_code,
       |    nullif(regexp_extract(content, coalesce(name_label, '产品名称') || '：(.+)', 1), '') AS product_name,
       |    CAST(replace(nullif(regexp_extract(content, coalesce(amount_label, '确认金额') || '：([0-9,]+[.][0-9]+)', 1), ''), ',', '') AS DOUBLE) AS amount,
       |    CAST(replace(nullif(regexp_extract(content, coalesce(shares_label, '确认份额') || '：([0-9,]+[.][0-9]+)', 1), ''), ',', '') AS DOUBLE) AS shares,
       |    CAST(replace(nullif(regexp_extract(content, coalesce(fee_label, '手续费') || '：([0-9,]+[.][0-9]+)', 1), ''), ',', '') AS DOUBLE) AS fee,
       |    regexp_replace(nullif(regexp_extract(content, coalesce(date_label, '确认日期') || '：(.+)', 1), ''), '[^0-9]', '', 'g') AS trade_date$extraPass
       |  FROM labeled),
       |enriched AS (
       |  SELECT e.file_name, e.batch_date,
       |    coalesce(e.platform, 'UNKNOWN') AS platform,
       |    e.biz_type, e.fund_code, e.product_name,
       |    coalesce(d.ledger_id, 'UNMAPPED') AS ledger_id,
       |    e.amount, e.shares, e.fee, e.trade_date,
       |    (e.fund_code IS NOT NULL AND e.platform IS NOT NULL) AS valid$extraSel
       |  FROM extracted e LEFT JOIN dict d ON e.product_name = d.p_name)""".stripMargin
  }

  private def ingestOracleSql(filesCte: String = "", extra: Seq[String] = Nil): String =
    s"""WITH ${ingestOracleCtes(filesCte, extra)}
       |SELECT * FROM enriched ORDER BY file_name""".stripMargin

  /** SQL twin of [[ocrRouted]] — one snippet feeds both the
    * etl_ocr_route oracle and the etl_e2e oracle, mirroring the shared
    * Scala projection. */
  private def ocrRouteSql(from: String): String =
    s"""SELECT file_name, batch_date,
       |    starts_with(content, 'SCANNED_IMAGE_V1') AS ocr_used,
       |    CASE WHEN starts_with(content, 'SCANNED_IMAGE_V1')
       |         THEN decode(unhex(string_split(content, chr(10))[2]))
       |         ELSE content END AS content,
       |    CASE WHEN starts_with(content, 'SCANNED_IMAGE_V1') THEN 1 ELSE 0
       |    END AS decode_rank
       |  FROM $from""".stripMargin

  /** SQL twin of [[containerDecoded]], shared the same way. */
  private def textAndScanGlobs: String =
    s"['$statementsDir/*/*.txt', '$statementsScanDir/*/*.txt']"

  private def containerDecodeSql(from: String): String =
    s"""SELECT file_name, batch_date,
       |    starts_with(content, '%GPDF-1.0') AS container_ok,
       |    CASE WHEN starts_with(content, '%GPDF-1.0')
       |         THEN regexp_extract(content, 'stream\n(.*)\nendstream', 1, 's')
       |         ELSE '' END AS content,
       |    2 AS decode_rank
       |  FROM $from""".stripMargin

  val oracles: Map[String, String] = Map(
    // the same pre-batch validation + fold, re-derived over the same
    // VALUES literals (dict and ops render from one Scala Seq each)
    "etl_dict_maintain" ->
      s"""WITH dict(name, code) AS (VALUES ${pairsValuesSql(productLedger)}),
        |ops(seq, action, name, new_name, new_code) AS (VALUES $dictOpsSql),
        |st AS (
        |  SELECT o.seq, o.action, o.name, o.new_name, o.new_code,
        |    d.code AS old_code, (d2.name IS NOT NULL) AS tgt
        |  FROM ops o
        |  LEFT JOIN dict d ON o.name = d.name
        |  LEFT JOIN dict d2 ON o.new_name = d2.name),
        |audit AS (
        |  SELECT seq, action, name, new_name, new_code,
        |    CASE WHEN action = 'add' AND (name = '' OR new_code = '') THEN 'rejected_empty'
        |         WHEN action = 'add' AND old_code IS NOT NULL THEN 'rejected_exists'
        |         WHEN action = 'add' THEN 'applied'
        |         WHEN action = 'edit' AND old_code IS NULL THEN 'rejected_missing'
        |         WHEN action = 'edit' AND (new_name = '' OR new_code = '') THEN 'rejected_empty'
        |         WHEN action = 'edit' AND new_name <> name AND tgt THEN 'rejected_conflict'
        |         WHEN action = 'edit' THEN 'applied'
        |         WHEN action = 'delete' AND old_code IS NULL THEN 'rejected_missing'
        |         ELSE 'applied' END AS status
        |  FROM st),
        |app AS (SELECT * FROM audit WHERE status = 'applied'),
        |removed AS (SELECT name FROM app WHERE action IN ('edit', 'delete')),
        |post AS (
        |  SELECT d.name, d.code, 'kept' AS status FROM dict d
        |  WHERE d.name NOT IN (SELECT name FROM removed)
        |  UNION ALL
        |  SELECT new_name, new_code,
        |    CASE WHEN new_name = name THEN 'updated' ELSE 'renamed' END
        |  FROM app WHERE action = 'edit'
        |  UNION ALL
        |  SELECT name, new_code, 'added' FROM app WHERE action = 'add')
        |SELECT kind, seq, action, name, new_name, code, status FROM (
        |  SELECT 'op' AS kind, CAST(seq AS BIGINT) AS seq, action, name,
        |    new_name, new_code AS code, status FROM audit
        |  UNION ALL
        |  SELECT 'state', CAST(-1 AS BIGINT), '', name, '', code, status FROM post) t
        |ORDER BY kind, seq, name""".stripMargin,
    "etl_fixed_width" ->
      s"""WITH f AS (
        |  SELECT content FROM read_text('$statementsFwDir/*.txt')),
        |l AS (
        |  SELECT unnest(string_split(rtrim(content, chr(10)), chr(10))) AS ln FROM f),
        |p AS (
        |  SELECT ln, length(ln) = 54 AS ok FROM l WHERE length(ln) > 0)
        |SELECT
        |  CASE WHEN ok THEN trim(substr(ln, 1, 6)) END AS ledger_id,
        |  CASE WHEN ok THEN trim(substr(ln, 7, 10)) END AS platform,
        |  CASE WHEN ok THEN substr(ln, 17, 6) END AS fund_code,
        |  CASE WHEN ok THEN try_cast(trim(substr(ln, 23, 12)) AS BIGINT) END AS amount_e2,
        |  CASE WHEN ok THEN try_cast(trim(substr(ln, 35, 12)) AS BIGINT) END AS shares_e2,
        |  CASE WHEN ok THEN substr(ln, 47, 8) END AS trade_date,
        |  ok, CAST(length(ln) AS BIGINT) AS line_len
        |FROM p
        |ORDER BY ledger_id NULLS FIRST, fund_code NULLS FIRST, line_len""".stripMargin,
    "etl_avro_ingest" ->
      s"""SELECT file_name, avro_ok, n_rows, sum_units, nav_e4_sum,
        | first_code, last_code, n_codes
        |FROM read_parquet('${graft.sources.Avro.avroDir}/expected.parquet')
        |ORDER BY file_name""".stripMargin,
    "etl_cdc_apply" ->
      """SELECT user_id, last_op, final_value, last_ts_us, n_ops FROM (
        |  SELECT user_id,
        |    CASE WHEN event_type = 'signup' THEN 'I'
        |         WHEN event_type = 'error' THEN 'D'
        |         ELSE 'U' END AS last_op,
        |    round(value, 2) AS final_value,
        |    epoch_us(ts) AS last_ts_us,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
        |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_ops
        |  FROM events) t
        |WHERE rn = 1 AND last_op <> 'D'
        |ORDER BY user_id""".stripMargin,
    "etl_ingest_files" -> ingestOracleSql(),
    // multi-record extraction: same classified/labeled CTEs, then the
    // per-block explode + label extraction + record-validity rule —
    // rendered from the same matrix (rec_marker is a rule column)
    "etl_multi_record" ->
      s"""WITH ${ingestOracleCtes()},
        |recs AS (
        |  SELECT file_name, platform,
        |    nullif(regexp_extract(content, coalesce(name_label, '产品名称') || '：(.+)', 1), '') AS product_name,
        |    code_label, amount_label, shares_label, fee_label,
        |    unnest(list_transform(regexp_split_to_array(content, rec_marker),
        |      (x, i) -> struct_pack(rec_no := i - 1, seg := x))) AS u
        |  FROM labeled WHERE rec_marker IS NOT NULL),
        |ex AS (
        |  SELECT file_name, platform, CAST(u.rec_no AS BIGINT) AS rec_no,
        |    product_name,
        |    nullif(regexp_extract(u.seg, code_label || '：([0-9]{6})', 1), '') AS fund_code,
        |    CAST(replace(nullif(regexp_extract(u.seg, amount_label || '：([0-9,]+[.][0-9]+)', 1), ''), ',', '') AS DOUBLE) AS amount,
        |    CAST(replace(nullif(regexp_extract(u.seg, shares_label || '：([0-9,]+[.][0-9]+)', 1), ''), ',', '') AS DOUBLE) AS shares,
        |    CAST(replace(nullif(regexp_extract(u.seg, fee_label || '：([0-9,]+[.][0-9]+)', 1), ''), ',', '') AS DOUBLE) AS fee
        |  FROM recs WHERE u.rec_no >= 1)
        |SELECT file_name, platform, rec_no, product_name, fund_code,
        |  amount, shares, fee
        |FROM ex
        |WHERE fund_code IS NOT NULL AND (amount IS NOT NULL OR shares IS NOT NULL)
        |ORDER BY file_name, rec_no""".stripMargin,
    "etl_redeem_ingest" -> redeemIngestOracleSql,
    "etl_redeem_multi" -> redeemMultiOracleSql,
    "etl_redeem_rows" -> redeemRowsOracleSql,
    "etl_div_ingest" -> divIngestOracleSql,
    "etl_div_multi" -> divMultiOracleSql,
    "etl_div_rows" -> divRowsOracleSql,
    "etl_div_merge" -> divMergeOracleSql,
    "etl_apply_ingest" -> applyIngestOracleSql,
    "etl_apply_multi" -> applyMultiOracleSql,
    "etl_apply_rows" -> applyRowsOracleSql,
    "etl_conv_ingest" -> convIngestOracleSql,
    "etl_ocr_route" -> ingestOracleSql(
      s"""${filesSql(textAndScanGlobs, "raw")},
         |files AS (
         |  ${ocrRouteSql("raw")})""".stripMargin, extra = Seq("ocr_used")),
    "etl_ocr_fuzzy_extract" ->
      s"""WITH files AS (
         |  SELECT regexp_extract(filename, '([^/]+)$$', 1) AS file_name,
         |    true AS ocr_ok, content
         |  FROM read_text('$statementsDir/*/*.txt')
         |  UNION ALL
         |  SELECT file_name, ocr_ok, content
         |  FROM read_parquet('$statementsOcrDir/expected.parquet')),
         |labels(field, canonical) AS (
         |  VALUES ('product_name', '产品名称'), ('fund_code', '基金代码'),
         |         ('trade_date', '确认日期')),
         |exploded AS (
         |  SELECT file_name, unnest(list_transform(
         |    string_split(content, chr(10)),
         |    (x, i) -> struct_pack(line_no := i, line := x))) AS u
         |  FROM files WHERE ocr_ok),
         |lines AS (
         |  SELECT file_name, u.line_no,
         |    split_part(u.line, '：', 1) AS lab,
         |    substr(u.line, length(split_part(u.line, '：', 1)) + 2) AS value
         |  FROM exploded WHERE contains(u.line, '：')),
         |scored AS (
         |  SELECT file_name, field, canonical, line_no, lab, value,
         |    floor(len(list_intersect(
         |        list_distinct(regexp_split_to_array(lab, '')),
         |        list_distinct(regexp_split_to_array(canonical, '')))) * 1.0
         |      / len(list_distinct(list_concat(
         |        list_distinct(regexp_split_to_array(lab, '')),
         |        list_distinct(regexp_split_to_array(canonical, '')))))
         |      * 10000 + 0.5) / 10000.0 AS jac
         |  FROM lines CROSS JOIN labels),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY file_name, field
         |    ORDER BY jac DESC, line_no) AS rn
         |  FROM scored WHERE jac >= 0.5)
         |SELECT file_name,
         |  max(CASE WHEN field = 'product_name' THEN value END) AS product_name,
         |  max(CASE WHEN field = 'fund_code' THEN value END) AS fund_code,
         |  max(CASE WHEN field = 'trade_date'
         |      THEN regexp_replace(value, '[^0-9]', '', 'g') END) AS trade_date,
         |  CAST(count(CASE WHEN lab <> canonical THEN 1 END) AS BIGINT)
         |    AS n_fuzzy_recovered
         |FROM ranked WHERE rn = 1
         |GROUP BY file_name ORDER BY file_name""".stripMargin,
    "etl_fuzzy_product_match" ->
      s"""WITH files AS (
         |  SELECT regexp_extract(filename, '([^/]+)$$', 1) AS file_name,
         |    false AS ocr_used, true AS ocr_ok, content
         |  FROM read_text('$statementsDir/*/*.txt')
         |  UNION ALL
         |  SELECT file_name, true AS ocr_used, ocr_ok, content
         |  FROM read_parquet('$statementsOcrDir/expected.parquet')),
         |plines AS (
         |  SELECT file_name, ocr_used, u.line_no, u.line
         |  FROM (SELECT file_name, ocr_used, unnest(list_transform(
         |      string_split(content, chr(10)),
         |      (x, i) -> struct_pack(line_no := i, line := x))) AS u
         |    FROM files WHERE ocr_ok) t
         |  WHERE starts_with(u.line, '产品名称：')),
         |vals AS (
         |  SELECT file_name, ocr_used, substr(line, 6) AS raw_name
         |  FROM (SELECT *, row_number() OVER (PARTITION BY file_name
         |      ORDER BY line_no) AS rn FROM plines) x
         |  WHERE rn = 1),
         |dict AS (
         |  SELECT DISTINCT substr(line, 6) AS canon
         |  FROM (SELECT unnest(string_split(content, chr(10))) AS line
         |        FROM read_text('$statementsDir/*/*.txt')) t
         |  WHERE starts_with(line, '产品名称：') AND length(substr(line, 6)) > 0),
         |best AS (
         |  SELECT file_name, canon, ham, row_number() OVER (
         |      PARTITION BY file_name ORDER BY ham, canon) AS rn
         |  FROM (
         |    SELECT v.file_name, d.canon,
         |      CAST(list_sum(list_transform(range(length(v.raw_name)),
         |        i -> CASE WHEN v.raw_name[i+1] = d.canon[i+1]
         |             THEN 0 ELSE 1 END)) AS BIGINT) AS ham
         |    FROM vals v JOIN dict d
         |      ON length(v.raw_name) = length(d.canon)) s
         |  WHERE ham <= 2)
         |SELECT v.file_name, v.ocr_used, v.raw_name,
         |  b.canon AS matched_name, b.ham AS hamming,
         |  coalesce(b.ham > 0, false) AS recovered
         |FROM vals v LEFT JOIN best b
         |  ON v.file_name = b.file_name AND b.rn = 1
         |ORDER BY v.file_name""".stripMargin,
    "etl_ocr_real" -> ingestOracleSql(
      s"""files AS (
         |  SELECT regexp_extract(filename, '([^/]+)$$', 1) AS file_name,
         |    regexp_extract(filename, '([0-9]{8})/[^/]+$$', 1) AS batch_date,
         |    false AS ocr_used, true AS ocr_ok, content,
         |    CAST(1000000 AS BIGINT) AS ocr_conf_ppm
         |  FROM read_text('$statementsDir/*/*.txt')
         |  UNION ALL
         |  SELECT file_name, batch_date, true AS ocr_used, ocr_ok,
         |    content, ocr_conf_ppm
         |  FROM read_parquet('$statementsOcrDir/expected.parquet'))""".stripMargin,
      extra = Seq("ocr_used", "ocr_ok", "ocr_conf_ppm", "content")),
    "etl_xlsx_ingest" -> ingestOracleSql(
      s"""files AS (
         |  SELECT file_name, batch_date, content, xlsx_ok
         |  FROM read_parquet('$statementsXlsxDir/expected.parquet'))""".stripMargin,
      extra = Seq("xlsx_ok", "content")),
    "etl_pdf_text" -> ingestOracleSql(
      s"""files AS (
         |  SELECT file_name, batch_date, content, pdf_ok
         |  FROM read_parquet('$statementsRealDir/expected.parquet'))""".stripMargin,
      extra = Seq("pdf_ok", "content")),
    "etl_pdf_decode" -> ingestOracleSql(
      s"""${filesSql(s"'$statementsPdfDir/*/*.gpdf'", "raw")},
         |files AS (
         |  ${containerDecodeSql("raw")})""".stripMargin, extra = Seq("container_ok")),
    "etl_e2e" ->
      s"""WITH ${ingestOracleCtes(
        s"""${filesSql(textAndScanGlobs, "raw_text")},
           |${filesSql(s"'$statementsPdfDir/*/*.gpdf'", "raw_pdf")},
           |files AS (
           |  SELECT file_name, batch_date, content, decode_rank
           |  FROM (${ocrRouteSql("raw_text")})
           |  UNION ALL
           |  SELECT file_name, batch_date, content, decode_rank
           |  FROM (${containerDecodeSql("raw_pdf")}))""".stripMargin,
        Seq("content", "decode_rank"))},
         |dedup AS (
         |  SELECT *,
         |    row_number() OVER (PARTITION BY md5(coalesce(nullif(content, ''), concat('FAILED:', file_name)))
         |                       ORDER BY decode_rank, file_name) AS rn,
         |    count(*) OVER (PARTITION BY md5(coalesce(nullif(content, ''), concat('FAILED:', file_name)))) AS n_sources
         |  FROM enriched)
         |SELECT ledger_id, fund_code, 'OTC' AS market, trade_date, biz_type,
         |  shares, amount, fee,
         |  floor(fee * 0.15 * 100 + 0.5) / 100.0 AS commission,
         |  platform AS counterparty,
         |  'CA' || coalesce(fund_code, '000000') AS cash_account,
         |  CASE WHEN biz_type = 'RED' THEN
         |    strftime(try_strptime(trade_date, '%Y%m%d') + INTERVAL 3 DAY, '%Y%m%d')
         |  END AS arrival_date,
         |  'H' || coalesce(fund_code, '000000') AS holder_account,
         |  substr(coalesce(fund_code, '000000'), 3, 4) AS seat_no,
         |  product_name, platform, file_name AS src_file,
         |  CAST(n_sources AS BIGINT) AS n_sources,
         |  CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
         |       ELSE 'test' END AS split,
         |  valid
         |FROM (SELECT *,
         |        ((coalesce(CAST(fund_code AS BIGINT), 0) % 1000003)
         |          * 2654435761) % 100 AS bucket
         |      FROM dedup WHERE rn = 1) t
         |ORDER BY src_file""".stripMargin,
    "etl_rules_classify" ->
      """WITH rules(priority, pattern, doc_class) AS (VALUES
        |  (1, 'stream.*window', 'streaming_stmt'),
        |  (2, 'join', 'join_stmt'),
        |  (3, 'group|sort', 'agg_stmt'))
        |SELECT doc_id, coalesce(doc_class, 'other') AS doc_class,
        |  CAST(coalesce(priority, 99) AS BIGINT) AS matched_priority
        |FROM (
        |  SELECT d.doc_id, r.doc_class, r.priority,
        |    row_number() OVER (PARTITION BY d.doc_id ORDER BY r.priority) AS rn
        |  FROM documents d LEFT JOIN rules r ON regexp_matches(d.text, r.pattern)) t
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "etl_variant_shred" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_total,
        | CAST(floor(avg(value) * 10000 + 0.5) AS BIGINT) AS avg_value_e4
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "etl_scd2" ->
      """WITH cur AS (
        |  SELECT c_custkey AS custkey, c_mktsegment AS segment,
        |         floor(c_acctbal * 100 + 0.5) / 100.0 AS balance
        |  FROM customer),
        |upd AS (
        |  SELECT custkey, segment,
        |         floor(balance * 1.1 * 100 + 0.5) / 100.0 AS balance
        |  FROM cur WHERE custkey % 7 = 0)
        |SELECT custkey, segment, balance,
        |       '1995-01-01' AS valid_from, '1996-06-01' AS valid_to,
        |       false AS is_current
        |FROM cur WHERE custkey IN (SELECT custkey FROM upd)
        |UNION ALL
        |SELECT custkey, segment, balance,
        |       '1996-06-01', '9999-12-31', true
        |FROM upd
        |UNION ALL
        |SELECT custkey, segment, balance,
        |       '1995-01-01', '9999-12-31', true
        |FROM cur WHERE custkey NOT IN (SELECT custkey FROM upd)
        |ORDER BY custkey, valid_from""".stripMargin,
    "etl_reconcile" ->
      """SELECT coalesce(l.rk, st.rk) AS rk,
        | coalesce(l.n_ledger, 0) AS n_ledger,
        | coalesce(l.ledger_total, 0.0) AS ledger_total,
        | coalesce(st.n_statements, 0) AS n_statements,
        | coalesce(st.statement_total, 0.0) AS statement_total,
        | CASE WHEN l.rk IS NULL THEN 'STATEMENT_ONLY'
        |      WHEN st.rk IS NULL THEN 'LEDGER_ONLY'
        |      ELSE 'MATCHED' END AS verdict
        |FROM (SELECT o_custkey % 100 AS rk, count(*) AS n_ledger,
        |       floor(sum(o_totalprice) * 100 + 0.5) / 100.0 AS ledger_total
        |      FROM orders GROUP BY 1) l
        |FULL OUTER JOIN (SELECT user_id AS rk, count(*) AS n_statements,
        |       floor(sum(value) * 100 + 0.5) / 100.0 AS statement_total
        |      FROM events GROUP BY 1) st ON l.rk = st.rk
        |ORDER BY rk""".stripMargin,
    "etl_master_table" -> masterTableSql,
    // the xlsx sink round-trip must reproduce the master slice exactly
    // (e2 cents, '' for the NULL arrival_date — cells cannot hold NULL)
    "etl_master_xlsx" ->
      s"""SELECT CAST(rec_id AS BIGINT) AS rec_id, ledger_id, fund_code,
        | market, trade_date, biz_type,
        | CAST(floor(shares * 100 + 0.5) AS BIGINT) AS shares_e2,
        | CAST(floor(amount * 100 + 0.5) AS BIGINT) AS amount_e2,
        | CAST(floor(fee * 100 + 0.5) AS BIGINT) AS fee_e2,
        | CAST(floor(commission * 100 + 0.5) AS BIGINT) AS commission_e2,
        | counterparty, cash_account,
        | coalesce(arrival_date, '') AS arrival_date,
        | holder_account, seat_no, product_name, platform
        |FROM ($masterTableSql) t
        |ORDER BY rec_id LIMIT 200""".stripMargin,
    "etl_json_typed" ->
      """SELECT event_id,
        | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
        | CAST(json_extract_string(props, '$.k') AS INT) % 10 = 0 AS k_round
        |FROM events ORDER BY event_id""".stripMargin,
    "etl_upsert_snapshot" ->
      """SELECT * FROM (
        | SELECT o_orderkey AS key, round(o_totalprice, 2) AS amount,
        |        'SNAPSHOT' AS src
        | FROM orders WHERE o_orderstatus <> 'P'
        | UNION ALL
        | SELECT o_orderkey, floor(o_totalprice * 1.01 * 100 + 0.5) / 100.0,
        |        'RESTATED'
        | FROM orders WHERE o_orderstatus = 'P') u
        |ORDER BY key""".stripMargin,
    "etl_redemption_detail" ->
      """SELECT o_orderkey AS rec_id,
        | CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 'FORCED'
        |      ELSE 'NORMAL' END AS redemption_type,
        | round(o_totalprice, 2) AS amount,
        | CAST(date_diff('day', o_orderdate, arrival) AS BIGINT) AS hold_days,
        | floor(o_totalprice * 0.035 / 365.0 * date_diff('day', o_orderdate, arrival) * 100 + 0.5) / 100.0 AS interest,
        | o_totalprice > 100000 AS carry_forward,
        | strftime(arrival, '%Y-%m-%d') AS arrival_date
        |FROM (SELECT *, o_orderdate + to_days(CAST(o_orderkey % 7 + 1 AS INT)) AS arrival
        |      FROM orders WHERE o_orderstatus = 'F') t
        |ORDER BY rec_id""".stripMargin,
    "etl_dividend" ->
      """SELECT o_orderkey AS rec_id,
        | lpad(CAST(o_custkey % 1000000 AS VARCHAR), 6, '0') AS fund_code,
        | div_type,
        | CASE WHEN div_type = 'CASH' THEN round(o_totalprice, 2) ELSE 0.0 END AS pay_amount,
        | CASE WHEN div_type = 'REINVEST'
        |      THEN floor(o_totalprice / nav * 100 + 0.5) / 100.0 ELSE 0.0 END AS pay_shares,
        | nav,
        | strftime(o_orderdate + INTERVAL 2 DAY, '%Y-%m-%d') AS cutoff_date
        |FROM (SELECT *,
        |  1.0 + CAST(o_custkey % 50 AS DOUBLE) / 100.0 AS nav,
        |  CASE WHEN o_orderkey % 3 = 0 THEN 'REINVEST' ELSE 'CASH' END AS div_type
        | FROM orders WHERE o_orderstatus = 'P') t
        |ORDER BY rec_id""".stripMargin,
    "etl_conversion" ->
      """SELECT o_orderkey AS rec_id,
        | coalesce(conv_ledger, 'UNMAPPED') AS conv_ledger,
        | lpad(CAST(o_custkey % 1000000 AS VARCHAR), 6, '0') AS out_code,
        | round(o_totalprice, 2) AS out_amount,
        | out_fee,
        | lpad(CAST(o_orderkey % 1000000 AS VARCHAR), 6, '0') AS in_code,
        | in_amount,
        | floor(in_amount / in_nav * 100 + 0.5) / 100.0 AS in_shares,
        | strftime(o_orderdate, '%Y-%m-%d') AS out_confirm_date,
        | strftime(o_orderdate + INTERVAL 1 DAY, '%Y-%m-%d') AS in_confirm_date
        |FROM (SELECT *,
        |  floor(o_totalprice * 0.001 * 100 + 0.5) / 100.0 AS out_fee,
        |  floor((o_totalprice - floor(o_totalprice * 0.001 * 100 + 0.5) / 100.0) * 100 + 0.5) / 100.0 AS in_amount,
        |  1.0 + CAST(o_orderkey % 40 AS DOUBLE) / 100.0 AS in_nav
        | FROM orders WHERE o_orderstatus = 'O') t
        |LEFT JOIN (SELECT r_regionkey AS conv_key, r_name AS conv_ledger FROM region) r
        |  ON o_custkey % 5 = conv_key
        |ORDER BY rec_id""".stripMargin,
    "etl_classify" ->
      """SELECT doc_id, lang, source,
        | CASE WHEN text LIKE '%stream%' AND text LIKE '%window%' THEN 'streaming_stmt'
        |      WHEN text LIKE '%join%' THEN 'join_stmt'
        |      WHEN text LIKE '%group%' OR text LIKE '%sort%' THEN 'agg_stmt'
        |      ELSE 'other' END AS doc_class,
        | CASE WHEN lang = 'zh' THEN 'domestic' ELSE 'cross_border' END AS market_class
        |FROM documents ORDER BY doc_id""".stripMargin,
    "etl_extract_regex" ->
      """SELECT doc_id,
        | nullif(regexp_extract(text, '(join|scan|sort|merge|filter)', 1), '') AS first_op,
        | nullif(regexp_extract(text, 'the ([a-z]+)', 1), '') AS after_the,
        | lpad(CAST(n_chars AS VARCHAR), 6, '0') AS doc_code
        |FROM documents ORDER BY doc_id""".stripMargin,
    "etl_normalize_numbers" ->
      """SELECT c_custkey,
        | lpad(regexp_extract(c_name, '([0-9]+)', 1), 6, '0') AS cust_code,
        | round(c_acctbal, 2) AS balance,
        | c_acctbal < 0 AS is_negative,
        | CAST(replace('1,234,567.89', ',', '') AS DOUBLE) AS comma_stripped
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "etl_parse_dates" ->
      """SELECT o_orderkey,
        | strftime(CAST(strptime(strftime(o_orderdate, '%Y/%m/%d'), '%Y/%m/%d') AS DATE), '%Y-%m-%d') AS parsed_date,
        | strftime(CAST(strptime(strftime(o_orderdate, '%d-%m-%Y'), '%d-%m-%Y') AS DATE), '%Y%m%d') AS std_date
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "etl_json_fields" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS k_total,
        | round(avg(value), 4) AS avg_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "etl_enrich_lookup" ->
      """SELECT c_custkey, c_name,
        | coalesce(n.ledger_id, 'UNMAPPED') AS ledger_id,
        | n.ledger_id IS NOT NULL AS mapped
        |FROM customer
        |LEFT JOIN (SELECT n_nationkey AS dict_key, n_name AS ledger_id
        |           FROM nation WHERE n_nationkey < 20) n
        |  ON c_nationkey = dict_key
        |ORDER BY c_custkey""".stripMargin,
    "etl_validate" ->
      """SELECT rule, total, CAST(passed AS BIGINT) AS passed FROM (
        | SELECT 'amount_positive' AS rule, count(*) AS total,
        |        sum(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) AS passed FROM orders
        | UNION ALL
        | SELECT 'date_in_range', count(*),
        |        sum(CASE WHEN o_orderdate >= DATE '1990-01-01' THEN 1 ELSE 0 END) FROM orders
        | UNION ALL
        | SELECT 'priority_present', count(*),
        |        sum(CASE WHEN o_orderpriority IS NOT NULL THEN 1 ELSE 0 END) FROM orders
        | UNION ALL
        | SELECT 'status_known', count(*),
        |        sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END) FROM orders
        |) v ORDER BY rule""".stripMargin,
    "etl_standardize_union" ->
      """SELECT * FROM (
        | SELECT 'orders' AS src, o_orderkey AS rec_id,
        |  CASE WHEN o_orderstatus='O' THEN 'SUB'
        |       WHEN o_orderstatus='F' THEN 'RED' ELSE 'DIV' END AS biz_code,
        |  lpad(CAST(o_custkey % 1000000 AS VARCHAR), 6, '0') AS fund_code,
        |  round(o_totalprice, 2) AS amount,
        |  floor(o_totalprice * 0.0015 * 100 + 0.5) / 100.0 AS fee,
        |  strftime(o_orderdate, '%Y-%m-%d') AS trade_date
        | FROM orders
        | UNION ALL
        | SELECT 'events', event_id,
        |  CASE WHEN event_type='purchase' THEN 'SUB'
        |       WHEN event_type='signup' THEN 'OPEN' ELSE 'OTH' END,
        |  lpad(CAST(user_id % 1000000 AS VARCHAR), 6, '0'),
        |  round(value, 2), floor(value * 0.0015 * 100 + 0.5) / 100.0, strftime(ts, '%Y-%m-%d')
        | FROM events WHERE event_type IN ('purchase','signup','error')) u
        |ORDER BY src, rec_id""".stripMargin,
    "etl_dedup_latest" ->
      """SELECT user_id, event_type, event_id, round(value,2) AS value, ts_us FROM (
        | SELECT user_id, event_type, event_id, value, epoch_us(ts) AS ts_us,
        |  row_number() OVER (PARTITION BY user_id, event_type
        |                     ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) t
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    "etl_fee_model" ->
      """SELECT o_orderkey, round(o_totalprice,2) AS amount, rate,
        | floor(o_totalprice * rate * 100 + 0.5) / 100.0 AS fee,
        | floor(greatest(o_totalprice * rate * 0.15, 10.0) * 100 + 0.5) / 100.0 AS commission
        |FROM (SELECT *, CAST(CASE WHEN o_totalprice < 50000 THEN 0.012
        |      WHEN o_totalprice < 200000 THEN 0.008 ELSE 0.005 END AS DOUBLE) AS rate
        |      FROM orders) t ORDER BY o_orderkey""".stripMargin)
}
