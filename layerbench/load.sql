-- Bulk-load script run once per bulk_etl pass through graft.Exec.runScript
-- over the Graft.registerTables views: stage a typed copy of orders in two
-- INSERT batches, load a lineitem fact slice joined to it, and build a
-- summary table. The tables it leaves behind are fingerprinted at the end.
DROP TABLE IF EXISTS lb_orders_load;
CREATE TABLE lb_orders_load USING parquet AS
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice,
         CAST(o_orderdate AS DATE) AS o_orderdate
  FROM orders WHERE o_orderkey % 2 = 0;
INSERT INTO lb_orders_load
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CAST(o_totalprice AS DECIMAL(18,2)), CAST(o_orderdate AS DATE)
  FROM orders WHERE o_orderkey % 2 = 1;
DROP TABLE IF EXISTS lb_lineitem_load;
CREATE TABLE lb_lineitem_load USING parquet PARTITIONED BY (l_returnflag) AS
  SELECT l.l_orderkey, l.l_linenumber, l.l_partkey,
         CAST(l.l_quantity AS DECIMAL(18,2)) AS l_quantity,
         CAST(l.l_extendedprice AS DECIMAL(18,2)) AS l_extendedprice,
         o.o_orderdate, l.l_returnflag
  FROM lineitem l JOIN lb_orders_load o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F' AND l.l_orderkey % 4 = 0;
DROP TABLE IF EXISTS lb_revenue_by_flag;
CREATE TABLE lb_revenue_by_flag USING parquet AS
  SELECT l_returnflag, CAST(year(o_orderdate) AS INT) AS yr, count(*) AS n_lines,
         CAST(sum(l_extendedprice) AS DOUBLE) AS revenue
  FROM lb_lineitem_load GROUP BY l_returnflag, CAST(year(o_orderdate) AS INT);
SELECT l_returnflag, yr, n_lines, revenue FROM lb_revenue_by_flag
ORDER BY l_returnflag, yr;
