-- Medallion ELT pass in the Dremio dialect, run statement by statement
-- through graft.pipeline.SqlScriptRunner. ${ns} is a fresh root folder per
-- pass. A SELECT's `-- check:` label names its committed fingerprint; the
-- four reads run once cold and once after the reflection exists, and both
-- runs must match the same fingerprint. The statements run in script order.

CREATE FOLDER IF NOT EXISTS ${ns}.raw;
CREATE FOLDER IF NOT EXISTS ${ns}.silver;
CREATE FOLDER IF NOT EXISTS ${ns}.gold;

CREATE TABLE ${ns}.raw.orders AS
  SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00';

INSERT INTO ${ns}.raw.orders
  SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00';

-- a re-delivered slice: the silver layer has to drop these copies
INSERT INTO ${ns}.raw.orders
  SELECT * FROM orders WHERE o_orderkey % 20 = 7;

-- a quarter of the line items keeps the pass short enough to repeat
CREATE TABLE ${ns}.raw.lineitem AS
  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount,
         l_returnflag, l_shipdate
  FROM lineitem WHERE l_orderkey % 4 = 0;

CREATE OR REPLACE VIEW ${ns}.silver.orders AS
  SELECT o_orderkey, o_custkey, UPPER(TRIM(o_orderstatus)) AS status,
         CAST(o_totalprice AS DECIMAL(18,2)) AS totalprice, o_orderdate,
         o_orderpriority
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                     ORDER BY o_orderdate) AS rn
        FROM ${ns}.raw.orders)
  WHERE rn = 1;

CREATE OR REPLACE VIEW ${ns}.gold.monthly_kpi AS
  SELECT DATE_TRUNC('MONTH', o.o_orderdate) AS order_month, o.status,
         COUNT(*) AS n_lines,
         ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
         ROUND(AVG(l.l_quantity), 4) AS avg_qty
  FROM ${ns}.silver.orders o
  JOIN ${ns}.raw.lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY DATE_TRUNC('MONTH', o.o_orderdate), o.status;

-- check: silver_count
SELECT COUNT(*) AS n_orders FROM ${ns}.silver.orders;

-- check: silver_avg
SELECT ROUND(AVG(totalprice), 2) AS avg_price FROM ${ns}.silver.orders;

-- check: gold_projection
SELECT order_month, status, n_lines, revenue, avg_qty FROM ${ns}.gold.monthly_kpi;

-- check: gold_aggregate
SELECT COUNT(*) AS n_groups, ROUND(AVG(revenue), 2) AS avg_revenue
FROM ${ns}.gold.monthly_kpi;

ALTER DATASET ${ns}.gold.monthly_kpi
CREATE REFLECTION monthly_kpi_raw
USING RAW;

-- check: silver_count
SELECT COUNT(*) AS n_orders FROM ${ns}.silver.orders;

-- check: silver_avg
SELECT ROUND(AVG(totalprice), 2) AS avg_price FROM ${ns}.silver.orders;

-- check: gold_projection
SELECT order_month, status, n_lines, revenue, avg_qty FROM ${ns}.gold.monthly_kpi;

-- check: gold_aggregate
SELECT COUNT(*) AS n_groups, ROUND(AVG(revenue), 2) AS avg_revenue
FROM ${ns}.gold.monthly_kpi;
