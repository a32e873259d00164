"""Tokenizer (SURVEY §2.7 U1) — the reference's `split_words` UDTF
(function/SplitFunction.java:11-26, jieba-style segmentation via IK analyzer
in utils/KeywordUtil.java:11-14, used with LATERAL TABLE in
dws/KeywordStatsApp.java:40-45).

Spark-native rendering: an array-returning expression + ``explode`` — the
idiomatic table-function shape. The default path is a pure JVM regex split
(whole-stage codegen); a Python analyzer (jieba) can be plugged in as a
pandas UDF when the library is present, gated behind an import-try.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# word = run of letters/digits (BPE-ish fallback: CJK chars become
# single-char tokens since there is no dictionary segmentation JVM-side).
_WORD_RE = r"[^\p{L}\p{N}]+"


def tokenize_col(col: Column | str, lowercase: bool = True) -> Column:
    """String -> array<string> of tokens, empty tokens removed."""
    c = F.col(col) if isinstance(col, str) else col
    if lowercase:
        c = F.lower(c)
    return F.filter(F.split(c, _WORD_RE), lambda t: t != "")


def tokenize_sql(col: str) -> str:
    """:func:`tokenize_col` as Spark SQL text over the expression ``col``
    (a raw string literal keeps the regex unescaped)."""
    return f"filter(split(lower({col}), r'{_WORD_RE}'), t -> t != '')"


def split_words(df: DataFrame, text_col: str, out_col: str = "word") -> DataFrame:
    """The LATERAL TABLE(split_words(text)) equivalent: one row per token.
    Implements the *intended* semantics — the reference's :19 collects the
    full string instead of each token (bug catalogued in SURVEY §5)."""
    return df.withColumn(out_col, F.explode(tokenize_col(text_col)))


# ---------------------------------------------------------------------------
# Deterministic CJK segmentation — the U1 fallback when jieba is absent.
#
# The reference's KeywordUtil (utils/KeywordUtil.java:11-14) does DICTIONARY
# word segmentation (IK analyzer) over Chinese search keywords; the regex
# tokenizer above degrades CJK to per-character tokens. This is the
# deterministic middle path: forward maximum matching (FMM, 正向最大匹配)
# against a small bundled e-commerce lexicon — longest dictionary word wins
# at each position, unknown characters fall back to single-char tokens.
# The identical algorithm is expressible as a DuckDB recursive CTE, so the
# CJK keyword query is hash-checked by the driver like any exact operator.
# ---------------------------------------------------------------------------
CJK_LEXICON: frozenset[str] = frozenset(
    {
        # ---- brands (electronics / appliances / PC) ----
        "小米", "华为", "苹果", "联想", "荣耀", "三星", "魅族", "中兴",
        "一加", "努比亚", "真我", "格力", "美的", "海尔", "海信", "创维",
        "康佳", "长虹", "九阳", "苏泊尔", "方太", "老板", "西门子", "松下",
        "索尼", "夏普", "飞利浦", "东芝", "日立", "戴尔", "惠普", "华硕",
        "宏碁", "微星", "雷蛇", "罗技", "金士顿", "英特尔", "希捷",
        # ---- products: phones / wearables / audio (nested entries so
        # longest-match is observable: 智能手机 wins over 智能+手机,
        # 平板电脑 over 平板+电脑) ----
        "手机", "智能手机", "功能手机", "手表", "智能手表", "手环",
        "智能手环", "耳机", "蓝牙耳机", "无线耳机", "降噪耳机", "音箱",
        "智能音箱", "蓝牙音箱", "音响", "麦克风",
        # ---- products: computing ----
        "电脑", "笔记本", "笔记本电脑", "台式机", "台式电脑", "平板",
        "平板电脑", "一体机", "显示器", "键盘", "机械键盘", "鼠标",
        "无线鼠标", "路由器", "无线路由器", "交换机", "摄像头", "打印机",
        "激光打印机", "喷墨打印机", "投影仪", "固态硬盘", "机械硬盘",
        "移动硬盘", "内存条", "内存卡", "存储卡", "显卡", "主板",
        "处理器", "散热器", "机箱", "电源", "声卡", "网卡", "服务器",
        # ---- products: large & small appliances ----
        "电视", "电视机", "液晶电视", "智能电视", "空调", "中央空调",
        "冰箱", "双门冰箱", "洗衣机", "全自动洗衣机", "滚筒洗衣机",
        "波轮洗衣机", "干衣机", "热水器", "电热水器", "燃气热水器",
        "油烟机", "抽油烟机", "燃气灶", "消毒柜", "洗碗机", "微波炉",
        "电磁炉", "电饭煲", "电压力锅", "豆浆机", "榨汁机", "破壁机",
        "咖啡机", "烤箱", "电烤箱", "空气炸锅", "加湿器", "除湿机",
        "净化器", "空气净化器", "净水器", "吸尘器", "扫地机器人",
        "电风扇", "取暖器", "电暖器", "剃须刀", "电动剃须刀", "吹风机",
        "电吹风", "电动牙刷",
        # ---- accessories / consumables ----
        "充电器", "快充充电器", "数据线", "充电线", "移动电源", "充电宝",
        "保护套", "支架", "转接头", "插线板", "插座", "电池", "遥控器",
        # ---- apparel / bags / shoes ----
        "衣服", "上衣", "外套", "羽绒服", "风衣", "夹克", "卫衣", "毛衣",
        "衬衫", "裤子", "牛仔裤", "运动裤", "短裤", "裙子", "连衣裙",
        "半身裙", "鞋子", "运动鞋", "跑步鞋", "篮球鞋", "帆布鞋", "皮鞋",
        "凉鞋", "拖鞋", "靴子", "袜子", "帽子", "围巾", "手套", "腰带",
        "背包", "双肩包", "手提包", "钱包", "行李箱",
        # ---- grocery / beauty / household ----
        "零食", "饼干", "巧克力", "糖果", "坚果", "牛奶", "酸奶", "咖啡",
        "茶叶", "绿茶", "红茶", "矿泉水", "饮料", "果汁", "方便面",
        "大米", "面条", "食用油", "橄榄油", "口红", "面霜", "眼霜",
        "精华液", "洗面奶", "爽肤水", "防晒霜", "香水", "洗发水",
        "护发素", "沐浴露", "牙膏", "牙刷", "纸巾", "洗衣液", "洗洁精",
        # ---- search / transaction vocabulary ----
        "购买", "下单", "付款", "支付", "退货", "退款", "换货", "包邮",
        "免邮", "现货", "预售", "秒杀", "抢购", "特价", "折扣", "优惠",
        "优惠券", "满减", "返现", "积分", "会员", "旗舰店", "专卖店",
        "自营", "正品", "行货", "二手", "全新", "价格", "比价", "降价",
        "涨价", "评价", "好评", "差评", "晒单", "物流", "快递", "发货",
        "收货", "售后", "保修", "质保", "分期", "免息", "以旧换新",
        # ---- modifiers ----
        "智能", "无线", "蓝牙", "高清", "超清", "四核", "八核", "大屏",
        "全面屏", "曲面屏", "折叠屏", "高端", "入门", "旗舰", "新款",
        "经典", "限量", "豪华", "轻薄", "便携", "迷你", "大容量",
        "长续航", "防水", "防摔", "静音", "节能", "变频", "定频",
    }
)
# The char-fallback fixtures (plans.analytics._CJK_SUFS) rely on 壳/膜
# staying OUT of the dictionary; a guard test pins this. Raise (not
# assert) so the invariant also holds under `python -O`.
if any("壳" in w or "膜" in w for w in CJK_LEXICON):
    raise ValueError("CJK_LEXICON must not contain 壳/膜 (char-fallback fixtures)")
_CJK_MAXLEN = max(len(w) for w in CJK_LEXICON)
_CJK_RANGES = (
    (0x4E00, 0x9FFF),  # CJK unified
    (0x3400, 0x4DBF),  # ext A
)


def _is_cjk(ch: str) -> bool:
    cp = ord(ch)
    return any(lo <= cp <= hi for lo, hi in _CJK_RANGES)


def fmm_segment(s: str) -> list[str]:
    """Forward maximum matching over a pure-CJK string. Mirrored exactly
    by the DuckDB recursive-CTE oracle in dws_keyword_stats_cjk — any
    change here must change that SQL too."""
    out: list[str] = []
    i = 0
    n = len(s)
    while i < n:
        for ln in range(min(_CJK_MAXLEN, n - i), 1, -1):
            w = s[i : i + ln]
            if w in CJK_LEXICON:
                out.append(w)
                i += ln
                break
        else:
            out.append(s[i])
            i += 1
    return out


def segment_mixed(s: str | None) -> list[str]:
    """Mixed-script tokenization: CJK runs go through FMM, everything else
    through the lowercase alnum-run split (same as tokenize_col)."""
    import re

    if not s:
        return []
    out: list[str] = []
    for run in re.findall(r"[㐀-䶿一-鿿]+|[^㐀-䶿一-鿿]+", s):
        if _is_cjk(run[0]):
            out.extend(fmm_segment(run))
        else:
            out.extend(t for t in re.split(r"[^a-z0-9]+", run.lower()) if t)
    return out


def cjk_tokens_udf():
    """Arrow-batched pandas UDF: string -> array<string> via segment_mixed.
    Python is unavoidable here (dictionary longest-match is not a built-in
    expression); the batch transfer keeps it off the per-row slow path.
    Prefers jieba when installed (same call surface), FMM otherwise."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    jieba = try_jieba_tokenizer()
    if jieba is not None:
        return jieba

    def cjk_cut(s):
        return s.map(segment_mixed)

    # real class objects, not strings: `from __future__ import annotations`
    # stringifies inline hints, which pandas_udf's type inference rejects
    cjk_cut.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(cjk_cut, "array<string>")


def try_jieba_tokenizer():
    """Optional Chinese segmentation via jieba (not in this container —
    returns None; callers fall back to the regex tokenizer)."""
    try:
        import jieba  # noqa: F401
    except ImportError:
        return None

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def jieba_cut(s: pd.Series) -> pd.Series:
        import jieba

        return s.map(lambda x: [t for t in jieba.cut(x or "") if t.strip()])

    return jieba_cut
