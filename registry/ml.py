"""Preprocessing, model, tensor and pipeline queries (``tech_ml_dataset_spark.ml``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from registry import _r4, _r4b, _t, query
from tech_ml_dataset_spark.ml import preprocess as mlp


@query(oracle="""
            SELECT round((l_quantity * 1.0 + l_extendedprice * 0.001
                          + l_discount * 100.0) * 10000) / 10000 AS u,
                   round((l_quantity * 0.5 + l_extendedprice * -0.25
                          + l_discount * 2.0) * 10000) / 10000 AS v
            FROM lineitem
            ORDER BY u, v
        """)
def matmul_lineitem(spark, sf_dir):
    """Distributed GEMM (tensor.clj:104): lineitem numeric block × fixed
    (3,2) matrix, entirely inside whole-stage codegen (ml/tensor.py)."""
    from tech_ml_dataset_spark.ml import tensor as tn
    li = _t(spark, sf_dir, "lineitem")
    proj = tn.matmul(li, [[1.0, 0.5], [0.001, -0.25], [100.0, 2.0]],
                     columns=["l_quantity", "l_extendedprice", "l_discount"],
                     output_cols=["u", "v"])
    out = proj.select(_r4b(F.col("u")).alias("u"),
                      _r4b(F.col("v")).alias("v"))
    return out.orderBy("u", "v")


@query(oracle="""
            WITH c AS (
                SELECT l_quantity AS q, l_discount AS d, l_tax AS t,
                       count(*) OVER () AS n
                FROM lineitem
                WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
                  AND l_tax IS NOT NULL
            ), cells AS (
                SELECT 'l_quantity' ci, 'l_quantity' cj, sum(q*q)/any_value(n) g FROM c
                UNION ALL SELECT 'l_quantity', 'l_discount', sum(q*d)/any_value(n) FROM c
                UNION ALL SELECT 'l_quantity', 'l_tax', sum(q*t)/any_value(n) FROM c
                UNION ALL SELECT 'l_discount', 'l_quantity', sum(d*q)/any_value(n) FROM c
                UNION ALL SELECT 'l_discount', 'l_discount', sum(d*d)/any_value(n) FROM c
                UNION ALL SELECT 'l_discount', 'l_tax', sum(d*t)/any_value(n) FROM c
                UNION ALL SELECT 'l_tax', 'l_quantity', sum(t*q)/any_value(n) FROM c
                UNION ALL SELECT 'l_tax', 'l_discount', sum(t*d)/any_value(n) FROM c
                UNION ALL SELECT 'l_tax', 'l_tax', sum(t*t)/any_value(n) FROM c
            )
            SELECT ci, cj, round(g, 4) AS g FROM cells ORDER BY ci, cj
        """)
def gram_lineitem(spark, sf_dir):
    """Distributed Gramian AᵀA (tensor.clj:70,104 / PCA covariance spine):
    k²-partial reduction, n never leaves the executors. Emitted as one
    row per matrix cell so the oracle can recompute each sum(ci*cj)."""
    from tech_ml_dataset_spark.ml import tensor as tn
    li = _t(spark, sf_dir, "lineitem")
    # small-magnitude columns + mean normalization keep the cross-engine
    # float tolerance inside _r4 (sum-of-products over 1e15-scale values
    # would amplify association differences past any fixed rounding)
    cols = ["l_quantity", "l_discount", "l_tax"]
    n = li.na.drop(subset=cols).count()  # gram_matrix drops null rows
    g = tn.gram_matrix(li, cols)
    g2 = tn.gram_matrix(li, cols, arrow_threshold=1)  # Arrow strategy
    import numpy as np
    assert np.allclose(g, g2), "gram strategies disagree"
    rows = [(cols[i], cols[j], round(float(g[i, j]) / n, 4))
            for i in range(len(cols)) for j in range(len(cols))]
    return spark.createDataFrame(rows, "ci string, cj string, g double") \
                .orderBy("ci", "cj")


@query(oracle="""
            WITH base AS (
                SELECT l_quantity, l_discount, l_extendedprice
                FROM lineitem WHERE l_orderkey < 300
            ), pairdef AS (
                SELECT 'qty_discount' AS pair, l_quantity AS x, l_discount AS y
                FROM base WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
                UNION ALL
                SELECT 'qty_price', l_quantity, l_extendedprice
                FROM base WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
            ), spair AS (
                SELECT a.pair, sum(sign(b.x - a.x) * sign(b.y - a.y)) / 2 AS s
                FROM pairdef a JOIN pairdef b USING (pair)
                GROUP BY a.pair
            ), nn AS (
                SELECT pair, count(*) AS n FROM pairdef GROUP BY pair
            ), tx AS (
                SELECT pair, sum(t * (t - 1) / 2) AS n1
                FROM (SELECT pair, x, count(*) AS t FROM pairdef GROUP BY pair, x)
                GROUP BY pair
            ), ty AS (
                SELECT pair, sum(t * (t - 1) / 2) AS n2
                FROM (SELECT pair, y, count(*) AS t FROM pairdef GROUP BY pair, y)
                GROUP BY pair
            )
            SELECT nn.pair, nn.n, CAST(spair.s AS BIGINT) AS s,
                   round(spair.s / sqrt((nn.n * (nn.n - 1) / 2.0 - tx.n1)
                                        * (nn.n * (nn.n - 1) / 2.0 - ty.n2)), 4)
                       AS tau
            FROM nn JOIN spair USING (pair) JOIN tx USING (pair)
                    JOIN ty USING (pair)
            ORDER BY pair
        """)
def kendall_tau_lineitem(spark, sf_dir):
    """EXACT full-data Kendall tau-b (math.clj:37 computes kendall on all
    rows; r2 verdict gap vs the sampled correlation_table bound) via the
    distributed bucketed-rank pair counter — one heavy-ties pair
    (quantity/discount) and one near-continuous pair (quantity/price) on a
    bounded slice so the DuckDB oracle can brute-force all O(n^2) pairs."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 300)
    r1 = mlp.kendall_tau_exact(li, "l_quantity", "l_discount")
    r2 = mlp.kendall_tau_exact(li, "l_quantity", "l_extendedprice")
    rows = [("qty_discount", r1["n"], r1["s"], r1["tau"]),
            ("qty_price", r2["n"], r2["s"], r2["tau"])]
    df = spark.createDataFrame(rows, "pair string, n bigint, s bigint, tau double")
    return df.select("pair", "n", "s", _r4(F.col("tau")).alias("tau")) \
             .orderBy("pair")


@query(oracle="""
            SELECT c_custkey,
                   CAST(dense_rank() OVER (ORDER BY c_mktsegment) - 1 AS INT) AS segment_code
            FROM customer
            ORDER BY c_custkey
        """)
def cat_encode_segment(spark, sf_dir):
    """fit/transform-categorical-map (categorical.clj:80,113): deterministic
    sorted-value codes."""
    cust = _t(spark, sf_dir, "customer")
    fit = mlp.fit_categorical_map(cust, "c_mktsegment")
    out = mlp.transform_categorical_map(cust, fit)
    return out.select("c_custkey", F.col("c_mktsegment")
                      .alias("segment_code")).orderBy("c_custkey")


@query(oracle="""
            SELECT c_custkey,
                   round((c_acctbal - avg(c_acctbal) OVER ())
                         / stddev_samp(c_acctbal) OVER (), 4) AS acctbal_scaled
            FROM customer
        """)
def std_scale_acctbal(spark, sf_dir):
    """fit/transform-std-scale (math.clj:238,262)."""
    cust = _t(spark, sf_dir, "customer")
    fit = mlp.fit_std_scale(cust, ["c_acctbal"])
    out = mlp.transform_std_scale(cust, fit)
    return out.select("c_custkey", _r4(F.col("c_acctbal")).alias("acctbal_scaled"))


@query(oracle="""
            WITH s AS (
                SELECT quantile_cont(c_acctbal, [0.25, 0.5, 0.75]) AS q
                FROM customer
            )
            SELECT c_custkey,
                   round((c_acctbal - q[2])
                         / (CASE WHEN q[3] - q[1] = 0 THEN 1
                                 ELSE q[3] - q[1] END) * 1e4) / 1e4
                       AS acctbal_scaled
            FROM customer, s
        """)
def robust_scale_acctbal(spark, sf_dir):
    """Robust scaler (median/IQR — sklearn RobustScaler analog): exact
    interpolated percentiles so the oracle replays the identical fit."""
    cust = _t(spark, sf_dir, "customer")
    fit = mlp.fit_robust_scale(cust, ["c_acctbal"], exact=True)
    out = mlp.transform_robust_scale(cust, fit)
    return out.select("c_custkey",
                      _r4b(F.col("c_acctbal")).alias("acctbal_scaled"))


@query(oracle="""
            SELECT c_custkey,
                   round(-0.5 + (c_acctbal - min(c_acctbal) OVER ())
                         / (max(c_acctbal) OVER () - min(c_acctbal) OVER ()), 4)
                       AS c_acctbal
            FROM customer
        """)
def minmax_scale_acctbal(spark, sf_dir):
    """fit/transform-minmax (math.clj:291,312), reference range [-0.5, 0.5]."""
    cust = _t(spark, sf_dir, "customer")
    fit = mlp.fit_minmax(cust, ["c_acctbal"])
    out = mlp.transform_minmax(cust, fit)
    return out.select("c_custkey", _r4(F.col("c_acctbal")).alias("c_acctbal"))


@query(oracle="""
            SELECT c_custkey,
                   CAST(c_mktsegment = 'AUTOMOBILE' AS INT) AS "c_mktsegment-AUTOMOBILE",
                   CAST(c_mktsegment = 'BUILDING' AS INT) AS "c_mktsegment-BUILDING",
                   CAST(c_mktsegment = 'FURNITURE' AS INT) AS "c_mktsegment-FURNITURE",
                   CAST(c_mktsegment = 'HOUSEHOLD' AS INT) AS "c_mktsegment-HOUSEHOLD",
                   CAST(c_mktsegment = 'MACHINERY' AS INT) AS "c_mktsegment-MACHINERY"
            FROM customer
        """)
def one_hot_segment(spark, sf_dir):
    """fit/transform-one-hot (categorical.clj:202,226): one 0/1 column per
    category, reference naming '<col>-<value>'."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    fit = mlp.fit_one_hot(cust, "c_mktsegment")
    return mlp.transform_one_hot(cust, fit)


@query(oracle="""
            -- exact 3-feature OLS via the centered normal equations
            -- S·[b1,b2,b3] = rhs, solved by Cramer with explicit 3x3
            -- determinants (x=l_quantity, z=l_discount, t=l_tax,
            -- y=l_extendedprice); b0 = ybar - b·means
            WITH s AS (
                SELECT avg(l_quantity) AS xbar, avg(l_discount) AS zbar,
                       avg(l_tax) AS tbar, avg(l_extendedprice) AS ybar,
                       var_pop(l_quantity) AS cxx,
                       var_pop(l_discount) AS czz,
                       var_pop(l_tax) AS ctt,
                       covar_pop(l_quantity, l_discount) AS cxz,
                       covar_pop(l_quantity, l_tax) AS cxt,
                       covar_pop(l_discount, l_tax) AS czt,
                       covar_pop(l_quantity, l_extendedprice) AS cxy,
                       covar_pop(l_discount, l_extendedprice) AS czy,
                       covar_pop(l_tax, l_extendedprice) AS cty
                FROM lineitem
            ), d AS (
                SELECT *,
                       cxx*(czz*ctt - czt*czt) - cxz*(cxz*ctt - czt*cxt)
                           + cxt*(cxz*czt - czz*cxt) AS det
                FROM s
            ), c AS (
                SELECT xbar, zbar, tbar, ybar,
                       (cxy*(czz*ctt - czt*czt) - cxz*(czy*ctt - czt*cty)
                            + cxt*(czy*czt - czz*cty)) / det AS b1,
                       (cxx*(czy*ctt - czt*cty) - cxy*(cxz*ctt - czt*cxt)
                            + cxt*(cxz*cty - czy*cxt)) / det AS b2,
                       (cxx*(czz*cty - czy*czt) - cxz*(cxz*cty - czy*cxt)
                            + cxy*(cxz*czt - czz*cxt)) / det AS b3
                FROM d
            )
            SELECT l_orderkey, l_linenumber,
                   round((ybar - b1*xbar - b2*zbar - b3*tbar
                          + b1*l_quantity + b2*l_discount + b3*l_tax)
                         * 10000) / 10000 AS price_hat
            FROM lineitem, c
            WHERE l_orderkey < 100
            ORDER BY l_orderkey, l_linenumber, price_hat
        """)
def regression_price_model(spark, sf_dir):
    """THREE-feature OLS through train-regression/predict (tribuo.clj:285,
    292 analog on pyspark.ml) — ORACLED as of r5 (promoted from rows-only):
    with the normal solver and no regularization the fit is exact OLS, so
    DuckDB reproduces the hyperplane closed-form from the 3x3 centered
    normal equations (Cramer with explicit 3x3 determinants), extending
    `ols_multi_price_model`'s 2x2 approach."""
    from tech_ml_dataset_spark.ml import models as mdl
    li = _t(spark, sf_dir, "lineitem")
    fit = mdl.train_regression(li, "l_extendedprice",
                               ["l_quantity", "l_discount", "l_tax"],
                               solver="normal", regParam=0.0)
    pred = mdl.predict(li.filter(F.col("l_orderkey") < 100), fit,
                       out_col="price_hat")
    return pred.select("l_orderkey", "l_linenumber",
                       _r4b(F.col("price_hat")).alias("price_hat")) \
               .orderBy("l_orderkey", "l_linenumber", "price_hat")


@query(oracle="""
            WITH fit AS (
                SELECT regr_slope(l_extendedprice, l_quantity) AS b,
                       regr_intercept(l_extendedprice, l_quantity) AS a
                FROM lineitem
            )
            SELECT l_orderkey, l_linenumber,
                   round((a + b * l_quantity) * 10000) / 10000 AS price_hat
            FROM lineitem, fit
            WHERE l_orderkey < 100
            ORDER BY l_orderkey, l_linenumber, price_hat
        """)
def ols_price_by_qty(spark, sf_dir):
    """Single-feature OLS through the full train-regression/predict path
    (tribuo.clj:285,292 analog): pyspark.ml LinearRegression (normal-
    equation solver, no regularization) is exact OLS, so DuckDB's
    regr_slope/regr_intercept reproduce the fitted line closed-form —
    promoting the train/predict family from rows-only to oracle-checked."""
    from tech_ml_dataset_spark.ml import models as mdl
    li = _t(spark, sf_dir, "lineitem")
    fit = mdl.train_regression(li, "l_extendedprice", ["l_quantity"],
                               solver="normal", regParam=0.0)
    pred = mdl.predict(li.filter(F.col("l_orderkey") < 100), fit,
                       out_col="price_hat")
    return pred.select("l_orderkey", "l_linenumber",
                       _r4b(F.col("price_hat")).alias("price_hat")) \
               .orderBy("l_orderkey", "l_linenumber", "price_hat")


@query(oracle="""
            -- exact OLS plane via the centered (covariance) normal
            -- equations: [[cxx,cxz],[cxz,czz]]·[b1,b2] = [cxy,czy],
            -- b0 = ybar - b1·xbar - b2·zbar (2x2 Cramer — numerically
            -- stable where raw-sum normal equations cancel)
            WITH s AS (
                SELECT avg(l_quantity) AS xbar, avg(l_discount) AS zbar,
                       avg(l_extendedprice) AS ybar,
                       var_pop(l_quantity) AS cxx,
                       var_pop(l_discount) AS czz,
                       covar_pop(l_quantity, l_discount) AS cxz,
                       covar_pop(l_quantity, l_extendedprice) AS cxy,
                       covar_pop(l_discount, l_extendedprice) AS czy
                FROM lineitem
            ), c AS (
                SELECT xbar, zbar, ybar,
                       (cxy*czz - cxz*czy) / (cxx*czz - cxz*cxz) AS b1,
                       (cxx*czy - cxz*cxy) / (cxx*czz - cxz*cxz) AS b2
                FROM s
            )
            SELECT l_orderkey, l_linenumber,
                   round((ybar - b1*xbar - b2*zbar
                          + b1*l_quantity + b2*l_discount) * 10000) / 10000
                       AS price_hat
            FROM lineitem, c
            WHERE l_orderkey < 100
            ORDER BY l_orderkey, l_linenumber, price_hat
        """)
def ols_multi_price_model(spark, sf_dir):
    """TWO-feature OLS through train-regression/predict (tribuo.clj:285,292
    analog) — closes the r3 gap "multi-feature rows-only": with the normal
    solver and no regularization the fit is exact OLS, so DuckDB reproduces
    the plane closed-form from the 2x2 covariance system (Cramer), and the
    whole multi-feature train/predict path becomes hash-checked."""
    from tech_ml_dataset_spark.ml import models as mdl
    li = _t(spark, sf_dir, "lineitem")
    fit = mdl.train_regression(li, "l_extendedprice",
                               ["l_quantity", "l_discount"],
                               solver="normal", regParam=0.0)
    pred = mdl.predict(li.filter(F.col("l_orderkey") < 100), fit,
                       out_col="price_hat")
    return pred.select("l_orderkey", "l_linenumber",
                       _r4b(F.col("price_hat")).alias("price_hat")) \
               .orderBy("l_orderkey", "l_linenumber", "price_hat")


@query(oracle="""
            -- symmetric 3x3 PCA closed-form: eigenvalues via the
            -- trigonometric method (B = (A-qI)/p, lam = q+2p cos(phi+2k
            -- pi/3), phi = acos(det(B)/2)/3; lam1 >= lam2 >= lam3 by
            -- construction), eigenvector for lam = row1(A-lam I) x
            -- row2(A-lam I); |projection| is sign-invariant. Columns are
            -- literal-scaled to comparable variances (see the Spark-side
            -- docstring: raw units cancel catastrophically).
            WITH src AS (
                SELECT l_orderkey, l_linenumber,
                       l_quantity AS x, l_extendedprice/1000 AS y,
                       l_discount*100 AS z
                FROM lineitem
            ), s AS (
                SELECT avg(x) AS xbar, avg(y) AS ybar, avg(z) AS zbar,
                       var_pop(x) AS a11, covar_pop(x,y) AS a12,
                       covar_pop(x,z) AS a13, var_pop(y) AS a22,
                       covar_pop(y,z) AS a23, var_pop(z) AS a33
                FROM src
            ), t AS (
                SELECT *, (a11+a22+a33)/3 AS q,
                       sqrt(((a11-(a11+a22+a33)/3)^2
                             + (a22-(a11+a22+a33)/3)^2
                             + (a33-(a11+a22+a33)/3)^2
                             + 2*(a12*a12 + a13*a13 + a23*a23)) / 6) AS p
                FROM s
            ), e AS (
                SELECT *,
                       acos(greatest(-1.0, least(1.0,
                           (((a11-q)/p)*(((a22-q)/p)*((a33-q)/p)
                                          - (a23/p)*(a23/p))
                            - (a12/p)*((a12/p)*((a33-q)/p)
                                       - (a23/p)*(a13/p))
                            + (a13/p)*((a12/p)*(a23/p)
                                       - ((a22-q)/p)*(a13/p))) / 2
                       ))) / 3 AS phi
                FROM t
            ), lam AS (
                SELECT *, q + 2*p*cos(phi) AS l1,
                       3*q - (q + 2*p*cos(phi))
                           - (q + 2*p*cos(phi + 2*pi()/3)) AS l2
                FROM e
            ), v AS (
                SELECT xbar, ybar, zbar,
                       (a12*a23 - (a22-l1)*a13) AS w1x0,
                       (a13*a12 - (a11-l1)*a23) AS w1y0,
                       ((a11-l1)*(a22-l1) - a12*a12) AS w1z0,
                       (a12*a23 - (a22-l2)*a13) AS w2x0,
                       (a13*a12 - (a11-l2)*a23) AS w2y0,
                       ((a11-l2)*(a22-l2) - a12*a12) AS w2z0
                FROM lam
            ), u AS (
                SELECT xbar, ybar, zbar,
                       w1x0 / sqrt(w1x0^2 + w1y0^2 + w1z0^2) AS v1x,
                       w1y0 / sqrt(w1x0^2 + w1y0^2 + w1z0^2) AS v1y,
                       w1z0 / sqrt(w1x0^2 + w1y0^2 + w1z0^2) AS v1z,
                       w2x0 / sqrt(w2x0^2 + w2y0^2 + w2z0^2) AS v2x,
                       w2y0 / sqrt(w2x0^2 + w2y0^2 + w2z0^2) AS v2y,
                       w2z0 / sqrt(w2x0^2 + w2y0^2 + w2z0^2) AS v2z
                FROM v
            )
            SELECT l_orderkey, l_linenumber,
                   round(abs((x-xbar)*v1x + (y-ybar)*v1y + (z-zbar)*v1z)
                         * 10000) / 10000 AS abs_pc0,
                   round(abs((x-xbar)*v2x + (y-ybar)*v2y + (z-zbar)*v2z)
                         * 10000) / 10000 AS abs_pc1
            FROM src, u
            WHERE l_orderkey < 100
            ORDER BY l_orderkey, l_linenumber
        """)
def pca_project_lineitem(spark, sf_dir):
    """fit/transform-pca over THREE columns (neanderthal.clj:199,262) —
    exercises the d>2 driver-eigh path (pca2 covers the 2x2 closed form).
    ORACLED as of r5 (promoted from rows-only): a symmetric 3x3
    eigendecomposition is SQL-expressible via the trigonometric
    closed form (lam = q + 2p*cos(phi + 2k*pi/3), the standard real-
    symmetric 3x3 method) and eigenvectors as cross products of two rows
    of (A - lam*I); |pc| output keeps the check sign-invariant. The
    columns are LITERAL-scaled to comparable variances (905/208/8.4)
    first — with raw units the eigenvalues spread 12 orders of magnitude
    and BOTH the trig formula and the cross-product eigenvector lose the
    small components to cancellation (measured: |proj| diff 24.3 raw vs
    7.6e-12 scaled). Scaling by plan literals keeps the Spark side a pure
    projection and the law engine-portable."""
    li = _t(spark, sf_dir, "lineitem")
    li = li.select("l_orderkey", "l_linenumber",
                   F.col("l_quantity").alias("qty"),
                   (F.col("l_extendedprice") / 1000).alias("price_k"),
                   (F.col("l_discount") * 100).alias("disc_pct"))
    cols = ["qty", "price_k", "disc_pct"]
    fit = mlp.fit_pca(li, cols, n_components=2)
    out = mlp.transform_pca(li.filter(F.col("l_orderkey") < 100), fit)
    return out.select("l_orderkey", "l_linenumber",
                      _r4b(F.abs(F.col("pc0"))).alias("abs_pc0"),
                      _r4b(F.abs(F.col("pc1"))).alias("abs_pc1")) \
              .orderBy("l_orderkey", "l_linenumber")


@query(oracle="""
            -- closed-form 2x2 PCA: eigenvalues of [[a,b],[b,c]] are
            -- ((a+c)±sqrt((a-c)^2+4b^2))/2, eigenvector for λ is
            -- (b, λ-a) normalized; |projection| is sign-invariant
            WITH s AS (
                SELECT avg(l_quantity) AS xbar, avg(l_extendedprice) AS ybar,
                       var_pop(l_quantity) AS a,
                       covar_pop(l_quantity, l_extendedprice) AS b,
                       var_pop(l_extendedprice) AS c
                FROM lineitem
            ), e AS (
                SELECT xbar, ybar, a, b,
                       ((a+c) + sqrt((a-c)*(a-c) + 4*b*b)) / 2 AS l1,
                       ((a+c) - sqrt((a-c)*(a-c) + 4*b*b)) / 2 AS l2
                FROM s
            ), v AS (
                SELECT xbar, ybar,
                       b / sqrt(b*b + (l1-a)*(l1-a)) AS v1x,
                       (l1-a) / sqrt(b*b + (l1-a)*(l1-a)) AS v1y,
                       b / sqrt(b*b + (l2-a)*(l2-a)) AS v2x,
                       (l2-a) / sqrt(b*b + (l2-a)*(l2-a)) AS v2y
                FROM e
            )
            SELECT l_orderkey, l_linenumber,
                   round(abs((l_quantity - xbar)*v1x
                             + (l_extendedprice - ybar)*v1y) * 10000) / 10000
                       AS abs_pc0,
                   round(abs((l_quantity - xbar)*v2x
                             + (l_extendedprice - ybar)*v2y) * 10000) / 10000
                       AS abs_pc1
            FROM lineitem, v
            WHERE l_orderkey < 100
            ORDER BY l_orderkey, l_linenumber
        """)
def pca2_project_lineitem(spark, sf_dir):
    """fit/transform-pca over TWO columns (neanderthal.clj:199,262) — the
    2x2 eigendecomposition has a closed form (λ = ((a+c)±sqrt((a-c)²+4b²))/2,
    v ∝ (b, λ-a)), so DuckDB replays the exact fit and projection and the
    PCA path gets a hash-checked row; |pc| output makes the check
    eigenvector-sign-invariant (the one implementation-defined bit).
    `pca_project_lineitem` keeps covering the d>2 driver-eigh path."""
    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice"]
    fit = mlp.fit_pca(li, cols, n_components=2)
    out = mlp.transform_pca(li.filter(F.col("l_orderkey") < 100)
                              .select("l_orderkey", "l_linenumber", *cols), fit)
    return out.select("l_orderkey", "l_linenumber",
                      _r4b(F.abs(F.col("pc0"))).alias("abs_pc0"),
                      _r4b(F.abs(F.col("pc1"))).alias("abs_pc1")) \
              .orderBy("l_orderkey", "l_linenumber")


@query(oracle="""
            SELECT l_orderkey, l_linenumber,
                   round((l_quantity - avg(l_quantity) OVER ()) * 10000) / 10000
                       AS q_centered
            FROM lineitem
            ORDER BY l_orderkey, l_linenumber, q_centered
        """)
def mean_center_quantity(spark, sf_dir):
    """mean-center-columns (tensor.clj:70): one-pass means, shuffle-free
    broadcast-subtract projection."""
    from tech_ml_dataset_spark.ml import tensor as tn
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber",
                                              "l_quantity")
    out, _ = tn.mean_center_columns(li, ["l_quantity"])
    return out.select("l_orderkey", "l_linenumber",
                      _r4b(F.col("l_quantity")).alias("q_centered")) \
              .orderBy("l_orderkey", "l_linenumber", "q_centered")


@query(oracle="""
            SELECT c_custkey,
                   CAST(dense_rank() OVER (ORDER BY c_mktsegment) - 1 AS INT)
                       AS seg_code,
                   round((c_acctbal - avg(c_acctbal) OVER ())
                         / stddev_samp(c_acctbal) OVER (), 4) AS acctbal_scaled
            FROM customer
            ORDER BY c_custkey
        """)
def pipeline_customer_features(spark, sf_dir):
    """metamorph pipeline (metamorph.clj:1-8): fit-mode threading of
    categorical-map + std-scale stages; fitted state is plain dicts applied
    as Column expressions (executor-broadcastable)."""
    from tech_ml_dataset_spark.ml.pipeline import Pipeline, stage
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment",
                                                "c_acctbal")
    pipe = Pipeline(
        stage(mlp.fit_categorical_map, mlp.transform_categorical_map,
              "c_mktsegment"),
        stage(mlp.fit_std_scale, mlp.transform_std_scale, ["c_acctbal"]),
    )
    out = pipe.fit_transform(cust)
    return out.select("c_custkey", F.col("c_mktsegment").alias("seg_code"),
                      _r4(F.col("c_acctbal")).alias("acctbal_scaled")) \
              .orderBy("c_custkey")
