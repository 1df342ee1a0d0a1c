package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random

/** One row the parser must produce for a generated file: its table, name
  * and resource/data type. */
final case class Expect(table: String, name: String, tpe: String = null)

/** A generated file: path relative to the corpus root, file kind
  * (`hcl`, `tfjson`, `plan`, `state`), content and expected rows. A
  * malformed file expects exactly one `_error` (diagnostics) row. */
final case class FileSpec(rel: String, kind: String, content: String, rows: Vector[Expect]) {
  def bytes: Long = content.getBytes(UTF_8).length.toLong
  def malformed: Boolean = rows.exists(_.table == "_error")
}

/** Seeded Terraform corpus with its manifest.
  *
  * Content covers what the parser has to handle in a real repository: HCL
  * with nested blocks, heredocs, comments, `count` and `for_each`;
  * `.tf.json`; pretty-printed plan JSON and state files whose resource
  * counts follow a heavy-tailed (Pareto) distribution, so a few files are
  * much larger than the rest; and a few planted malformed files. The
  * manifest is built alongside the content, independently of the parser,
  * so it is the oracle for every tf workload check.
  */
final class Corpus(val root: Path, seed: Long, nFiles: Int) {
  import Corpus._

  private val files = mutable.LinkedHashMap[String, FileSpec]()
  private var nextId = 0

  // The initial corpus is stratified: the kind mix and, per kind, the
  // sizes (resource counts at evenly spaced quantiles of the heavy-tailed
  // distribution) are the same for every seed; the seed shuffles them and
  // draws all content. Total size, and so the work per op, then varies
  // little between seeds.
  locally {
    val rnd = Corpus.rng(seed, 0L)
    val counts = KindShare.map { case (k, share) => k -> math.round(share * nFiles).toInt }
    val kinds = rnd.shuffle(counts.toVector.flatMap { case (k, n) => Vector.fill(n)(k) })
    val quantiles = counts.map { case (k, n) => k -> rnd.shuffle(Vector.tabulate(n)(i => (i + 0.5) / n)).iterator }.toMap
    kinds.foreach(k => put(newFile(rnd, k, quantiles(k).next())))
    // three malformed files of different kinds, whatever the seed
    Seq("hcl", "state", "plan").foreach { k => put(malformedFile(rnd, k)) }
  }

  def specs: Iterable[FileSpec] = files.values
  def totalBytes: Long = files.values.iterator.map(_.bytes).sum
  def abs(f: FileSpec): String = root.resolve(f.rel).toString

  /** Expected row count per table, `_error` included. */
  def tableCounts: Map[String, Long] =
    files.values.iterator.flatMap(_.rows).toSeq.groupBy(_.table).map { case (t, rs) => t -> rs.size.toLong }

  def rows: Iterator[Expect] = files.values.iterator.flatMap(_.rows)

  def paths: graft.tf.Terraform.Paths = graft.tf.Terraform.Paths(
    configurationFilePaths = Seq(s"$root/*/*/*.tf", s"$root/*/*/*.tf.json"),
    planFilePaths = Seq(s"$root/*/*/*.tfplan.json"),
    stateFilePaths = Seq(s"$root/*/*/*.tfstate"))

  /** Edit batch `k`: rewrite, add and delete a few percent of the files,
    * on disk and in the manifest. Malformed files are left alone, so the
    * expected diagnostics stay fixed. */
  def edit(k: Int): Unit = {
    val rnd = Corpus.rng(seed, 1000L + k)
    val valid = files.values.filterNot(_.malformed).map(_.rel).toVector
    val n = math.max(1, valid.size / 100)
    val picked = rnd.shuffle(valid).take(3 * n)
    val (rewrite, delete) = (picked.take(2 * n), picked.drop(2 * n))
    rewrite.foreach { rel =>
      val old = files(rel)
      put(contentFor(rnd, old.kind, old.rel, idOf(old.rel), rnd.nextDouble()))
    }
    delete.foreach { rel =>
      files.remove(rel)
      Files.deleteIfExists(root.resolve(rel))
    }
    (0 until n).foreach(_ => put(newFile(rnd, randomKind(rnd), rnd.nextDouble())))
  }

  private def put(f: FileSpec): Unit = {
    val p = root.resolve(f.rel)
    Files.createDirectories(p.getParent)
    Files.write(p, f.content.getBytes(UTF_8))
    files(f.rel) = f
  }

  private def idOf(rel: String): Int = rel.split('/').last.takeWhile(_ != '.').drop(1).toInt

  private def randomKind(rnd: Random): String = {
    var u = rnd.nextDouble()
    KindShare.find { case (_, share) => u -= share; u < 0 }.map(_._1).getOrElse("hcl")
  }

  /** A new file of `kind` whose size sits at quantile `size` of its kind's
    * size distribution. */
  private def newFile(rnd: Random, kind: String, size: Double): FileSpec = {
    val id = nextId
    nextId += 1
    contentFor(rnd, kind, relFor(kind, id), id, size)
  }

  private def relFor(kind: String, id: Int): String = {
    val ext = kind match {
      case "hcl" => "tf"; case "tfjson" => "tf.json"
      case "plan" => "tfplan.json"; case _ => "tfstate"
    }
    f"team_${id % 7}%02d/svc_${id / 40}%04d/f$id.$ext"
  }

  private def malformedFile(rnd: Random, kind: String): FileSpec = {
    val id = nextId
    nextId += 1
    val ok = contentFor(rnd, kind, relFor(kind, id), id, rnd.nextDouble())
    // cut the content mid-document: an unclosed block or JSON object
    val cut = ok.content.substring(0, math.max(8, ok.content.length * 2 / 3))
      .reverse.dropWhile(c => c == '}' || c == ']' || c.isWhitespace).reverse
    FileSpec(ok.rel, kind, cut + "\n", Vector(Expect("_error", null)))
  }

  private def contentFor(rnd: Random, kind: String, rel: String, id: Int, size: Double): FileSpec =
    kind match {
      case "hcl"    => hclFile(rnd, rel, id, pareto(size, 60))
      case "tfjson" => tfJsonFile(rnd, rel, id, pareto(size, 30))
      case "plan"   => planFile(rnd, rel, id, pareto(size, 300))
      case _        => stateFile(rnd, rel, id, pareto(size, 300, alpha = 1.2))
    }
}

object Corpus {

  val ResourceTypes: Vector[String] = Vector("aws_instance", "aws_s3_bucket", "aws_cloudtrail",
    "aws_iam_role", "aws_security_group", "aws_lambda_function")

  /** A generator for stream `k` of `seed`. java.util.Random's first draws
    * are correlated across nearby seeds, so both are mixed (SplitMix64). */
  def rng(seed: Long, k: Long): Random = {
    var z = seed * 0x9E3779B97F4A7C15L + k * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    new Random(z ^ (z >>> 31))
  }

  /** Share of each file kind in a corpus. */
  val KindShare: Seq[(String, Double)] = Seq("hcl" -> 0.70, "tfjson" -> 0.08, "state" -> 0.11, "plan" -> 0.11)

  /** Heavy-tailed count >= 1 at quantile `u`: most files hold a few
    * resources, a few many. */
  private def pareto(u: Double, cap: Int, alpha: Double = 1.4): Int =
    math.min(cap, math.floor(1.0 / math.pow(1.0 - u, 1.0 / alpha)).toInt)

  private def q(s: String): String = "\"" + s + "\""

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case c => c.toString
    } + "\""

  /** Resource body attributes, drawn once per resource and written to every
    * form of it (HCL, plan and state values). */
  private final case class ResAttrs(forceDestroy: Option[Boolean], kms: Boolean)

  private def resAttrs(rnd: Random, tpe: String): ResAttrs = tpe match {
    case "aws_s3_bucket" =>
      ResAttrs(rnd.nextInt(3) match { case 0 => None; case 1 => Some(false); case _ => Some(true) }, kms = false)
    case "aws_cloudtrail" => ResAttrs(None, kms = rnd.nextBoolean())
    case _ => ResAttrs(None, kms = false)
  }

  // ------------------------------------------------------------------ HCL

  private def hclResource(rnd: Random, tpe: String, name: String, a: ResAttrs): String = {
    val sb = new StringBuilder
    sb ++= s"resource ${q(tpe)} ${q(name)} {\n"
    tpe match {
      case "aws_instance" =>
        sb ++= "  ami           = \"ami-0" + rnd.nextInt(1 << 20).toHexString + "\"\n"
        sb ++= "  instance_type = var.instance_type\n"
        if (rnd.nextBoolean()) sb ++= s"  count         = ${1 + rnd.nextInt(4)}\n"
        sb ++= s"  tags = {\n    Name = ${q(name)}\n    Team = \"team-${rnd.nextInt(9)}\"\n  }\n"
        (0 until rnd.nextInt(3)).foreach { i =>
          sb ++= s"  ebs_block_device {\n    device_name = \"/dev/sd${('f' + i).toChar}\"\n" +
            s"    volume_size = ${8 * (1 + rnd.nextInt(16))}\n  }\n"
        }
        sb ++= "  lifecycle {\n    create_before_destroy = true\n  }\n"
        if (rnd.nextBoolean())
          sb ++= s"  user_data = <<-EOT\n    #!/bin/bash\n    echo \"booting $name\"\n    systemctl start app\n  EOT\n"
      case "aws_s3_bucket" =>
        if (rnd.nextBoolean()) {
          sb ++= "  for_each = toset([\"logs\", \"assets\", \"backup\"])\n"
          sb ++= "  bucket   = \"" + name + "-${each.key}\"\n"
        } else sb ++= s"  bucket   = ${q(name.replace('_', '-'))}\n"
        a.forceDestroy.foreach(b => sb ++= s"  force_destroy = $b\n")
      case "aws_cloudtrail" =>
        sb ++= s"  name           = ${q(name)}\n  s3_bucket_name = aws_s3_bucket.trail_logs.id\n"
        if (a.kms) sb ++= "  kms_key_id     = \"arn:aws:kms:us-east-1:123456789012:key/" + rnd.nextInt(99999) + "\"\n"
      case "aws_iam_role" =>
        sb ++= s"  name = ${q(name)}\n"
        sb ++= "  assume_role_policy = jsonencode({\n    Version = \"2012-10-17\"\n" +
          "    Statement = [{ Action = \"sts:AssumeRole\", Effect = \"Allow\" }]\n  })\n"
      case "aws_security_group" =>
        sb ++= s"  name   = ${q(name)}\n  vpc_id = module.vpc.vpc_id\n"
        (0 until 1 + rnd.nextInt(3)).foreach { i =>
          val port = Seq(22, 80, 443, 8080, 5432)(rnd.nextInt(5))
          sb ++= s"  ingress {\n    from_port   = $port\n    to_port     = $port\n" +
            "    protocol    = \"tcp\"\n    cidr_blocks = [\"10." + i + ".0.0/16\"]\n  }\n"
        }
      case _ =>
        sb ++= s"  function_name = ${q(name)}\n  runtime       = \"python3.12\"\n" +
          "  handler       = \"app.handler\"\n  role          = aws_iam_role.exec.arn\n"
        sb ++= "  environment {\n    variables = {\n      STAGE = var.stage\n    }\n  }\n"
    }
    sb ++= "}\n\n"
    sb.result()
  }

  private def hclFile(rnd: Random, rel: String, id: Int, nRes: Int): FileSpec = {
    val sb = new StringBuilder
    val rows = Vector.newBuilder[Expect]
    sb ++= s"# service $id\n// generated configuration\n"
    sb ++= "terraform {\n  required_version = \">= 1.3\"\n}\n\n"
    if (rnd.nextInt(3) == 0) {
      sb ++= "provider \"aws\" {\n  region = \"us-east-1\"\n}\n\n"
      rows += Expect("provider", "aws")
      if (rnd.nextBoolean()) {
        sb ++= "provider \"aws\" {\n  alias   = \"west\"\n  region  = \"us-west-2\"\n  version = \"~> 5.0\"\n}\n\n"
        rows += Expect("provider", "aws")
      }
    }
    if (rnd.nextBoolean()) {
      val validation = rnd.nextBoolean()
      val sensitive = rnd.nextInt(4) == 0
      sb ++= s"variable \"instance_type_$id\" {\n  type        = string\n  default     = \"t3.micro\"\n" +
        "  description = \"EC2 instance type\"\n"
      if (sensitive) sb ++= "  sensitive   = true\n"
      if (validation) sb ++= "  validation {\n    condition     = can(regex(\"^t3\", var.instance_type))\n" +
        "    error_message = \"Only t3 instances are allowed.\"\n  }\n"
      sb ++= "}\n\n"
      rows += Expect("variable", s"instance_type_$id")
    }
    if (rnd.nextBoolean()) {
      val names = Seq("owner", "region", "name_prefix", "env").filter(_ => rnd.nextBoolean()) :+ "common_tags"
      sb ++= "locals {\n"
      names.foreach {
        case "owner"       => sb ++= s"  owner       = \"team-${rnd.nextInt(9)}\"\n"
        case "region"      => sb ++= "  region      = \"us-east-1\"\n"
        case "name_prefix" => sb ++= "  name_prefix = \"${var.env}-svc\"\n"
        case "env"         => sb ++= "  env         = terraform.workspace\n"
        case _             => sb ++= "  common_tags = {\n    Owner = \"platform\"\n    Cost  = \"shared\"\n  }\n"
      }
      sb ++= "}\n\n"
      names.foreach(n => rows += Expect("local", n))
    }
    (0 until nRes).foreach { i =>
      val tpe = ResourceTypes(rnd.nextInt(ResourceTypes.size))
      val name = s"${tpe.stripPrefix("aws_")}_${id}_$i"
      val a = resAttrs(rnd, tpe)
      sb ++= hclResource(rnd, tpe, name, a)
      rows += Expect("resource", name, tpe)
    }
    if (rnd.nextInt(3) == 0) {
      val nf = 1 + rnd.nextInt(3)
      sb ++= s"data \"aws_ami\" \"ami_$id\" {\n  most_recent = true\n  owners      = [\"099720109477\"]\n"
      (0 until nf).foreach { i =>
        sb ++= s"  filter {\n    name   = \"${Seq("name", "architecture", "virtualization-type")(i)}\"\n" +
          "    values = [\"ubuntu/images/*\"]\n  }\n"
      }
      sb ++= "}\n\n"
      rows += Expect("data_source", s"ami_$id", "aws_ami")
    }
    if (rnd.nextInt(4) == 0) {
      val src = rnd.nextInt(3) match {
        case 0 => "terraform-aws-modules/vpc/aws"
        case 1 => s"git::https://gitlab.com/acme/net?ref=v1.${rnd.nextInt(9)}.0"
        case _ => s"git::https://gitlab.com/acme/net?ref=${rnd.nextInt(9)}abc"
      }
      sb ++= s"module \"net_$id\" {\n  source  = ${q(src)}\n"
      if (!src.startsWith("git::")) sb ++= "  version = \"5.0.0\"\n"
      sb ++= "  cidr    = \"10.0.0.0/16\"\n}\n\n"
      rows += Expect("module", s"net_$id")
    }
    (0 until rnd.nextInt(3)).foreach { i =>
      val arn = rnd.nextBoolean()
      val sensitive = rnd.nextInt(3) == 0
      val value = if (arn) s"aws_s3_bucket.bucket_${id}_$i.arn" else s"aws_instance.instance_${id}_$i[0].public_ip"
      sb ++= s"output \"out_${id}_$i\" {\n  value       = $value\n  description = \"output $i\"\n"
      if (sensitive) sb ++= "  sensitive   = true\n"
      sb ++= "}\n\n"
      rows += Expect("output", s"out_${id}_$i")
    }
    FileSpec(rel, "hcl", sb.result(), rows.result())
  }

  // ------------------------------------------------------------ .tf.json

  private def tfJsonFile(rnd: Random, rel: String, id: Int, nRes: Int): FileSpec = {
    val rows = Vector.newBuilder[Expect]
    val res = (0 until nRes).map { i =>
      val name = s"api_${id}_$i"
      rows += Expect("resource", name, "aws_instance")
      s"""      ${q(name)}: {
         |        "ami": "ami-0${rnd.nextInt(1 << 20).toHexString}",
         |        "instance_type": "t3.small",
         |        "count": ${1 + rnd.nextInt(3)},
         |        "tags": {"Name": ${q(name)}, "Tier": "api"}
         |      }""".stripMargin
    }.mkString(",\n")
    rows += Expect("variable", s"stage_$id")
    rows += Expect("output", s"api_id_$id")
    rows += Expect("local", "stage_name")
    val content =
      s"""{
         |  "resource": {
         |    "aws_instance": {
         |$res
         |    }
         |  },
         |  "variable": {
         |    "stage_$id": {"type": "string", "default": "prod", "description": "deployment stage"}
         |  },
         |  "locals": {
         |    "stage_name": "$${var.stage_$id}"
         |  },
         |  "output": {
         |    "api_id_$id": {"value": "$${aws_instance.api_${id}_0.id}"}
         |  }
         |}
         |""".stripMargin
    FileSpec(rel, "tfjson", content, rows.result())
  }

  // --------------------------------------------------------- plan / state

  private val AssumeRolePolicy =
    """{"Version":"2012-10-17","Statement":[{"Action":"sts:AssumeRole","Effect":"Allow"}]}"""

  private def valuesJson(rnd: Random, tpe: String, name: String, a: ResAttrs, indent: String): String = {
    val kv = Seq.newBuilder[String]
    tpe match {
      case "aws_instance" =>
        kv += s""""ami": "ami-0${rnd.nextInt(1 << 20).toHexString}""""
        kv += s""""instance_type": "t3.micro""""
        kv += s""""tags": {"Name": ${jstr(name)}}"""
      case "aws_s3_bucket" => kv += s""""bucket": ${jstr(name)}"""
      case "aws_cloudtrail" => kv += s""""name": ${jstr(name)}"""
      case "aws_iam_role" =>
        kv += "\"assume_role_policy\": " + jstr(AssumeRolePolicy)
      case _ => kv += s""""name": ${jstr(name)}"""
    }
    a.forceDestroy.foreach(b => kv += s""""force_destroy": $b""")
    if (a.kms) kv += s""""kms_key_id": "arn:aws:kms:us-east-1:123456789012:key/${rnd.nextInt(99999)}""""
    kv.result().mkString(s"{\n$indent  ", s",\n$indent  ", s"\n$indent}")
  }

  private def planFile(rnd: Random, rel: String, id: Int, n: Int): FileSpec = {
    val rows = Vector.newBuilder[Expect]
    val res = (0 until n).map { i =>
      val tpe = ResourceTypes(rnd.nextInt(ResourceTypes.size))
      val name = s"p_${id}_$i"
      val a = resAttrs(rnd, tpe)
      rows += Expect("resource", name, tpe)
      s"""        {
         |          "address": "$tpe.$name",
         |          "mode": "managed",
         |          "type": "$tpe",
         |          "name": "$name",
         |          "provider_name": "registry.terraform.io/hashicorp/aws",
         |          "schema_version": 1,
         |          "values": ${valuesJson(rnd, tpe, name, a, "          ")}
         |        }""".stripMargin
    }
    val changes = (0 until n).map(i => s"""    {"address": "r$i", "change": {"actions": ["create"]}}""")
    val content =
      s"""{
         |  "format_version": "1.2",
         |  "terraform_version": "1.5.7",
         |  "planned_values": {
         |    "root_module": {
         |      "resources": [
         |${res.mkString(",\n")}
         |      ]
         |    }
         |  },
         |  "resource_changes": [
         |${changes.mkString(",\n")}
         |  ]
         |}
         |""".stripMargin
    FileSpec(rel, "plan", content, rows.result())
  }

  private def stateFile(rnd: Random, rel: String, id: Int, n: Int): FileSpec = {
    val rows = Vector.newBuilder[Expect]
    val res = (0 until n).map { i =>
      val tpe = ResourceTypes(rnd.nextInt(ResourceTypes.size))
      val name = s"s_${id}_$i"
      val a = resAttrs(rnd, tpe)
      val k = 1 + (if (rnd.nextInt(4) == 0) rnd.nextInt(4) else 0)
      val insts = (0 until k).map { j =>
        rows += Expect("resource", name, tpe)
        val idx = if (k > 1) s""""index_key": $j, """ else ""
        s"""        {$idx"schema_version": 1, "attributes": ${valuesJson(rnd, tpe, name, a, "        ")}}"""
      }
      s"""    {
         |      "mode": "managed",
         |      "type": "$tpe",
         |      "name": "$name",
         |      "provider": "provider[\\"registry.terraform.io/hashicorp/aws\\"]",
         |      "instances": [
         |${insts.mkString(",\n")}
         |      ]
         |    }""".stripMargin
    }
    val outs = (0 until rnd.nextInt(3)).map { i =>
      val sensitive = rnd.nextBoolean()
      rows += Expect("output", s"state_out_${id}_$i")
      val s = if (sensitive) """, "sensitive": true""" else ""
      s"""    "state_out_${id}_$i": {"value": "v-$i", "type": "string"$s}"""
    }
    val content =
      s"""{
         |  "version": 4,
         |  "terraform_version": "1.5.7",
         |  "serial": ${rnd.nextInt(500)},
         |  "lineage": "${new java.util.UUID(rnd.nextLong(), rnd.nextLong())}",
         |  "outputs": {
         |${outs.mkString(",\n")}
         |  },
         |  "resources": [
         |${res.mkString(",\n")}
         |  ]
         |}
         |""".stripMargin
    FileSpec(rel, "state", content, rows.result())
  }
}
